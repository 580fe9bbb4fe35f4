package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/compare.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name1,name2,...] — with
  * an entry list, only those entries and their oracles are dumped. */
object Verify {

  /** Dump each query's result to `outDir/<name>` and the oracle map to
    * `outDir/oracle_sql.json`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      oracleSqlRaw: Map[String, String]): Unit = {
    // Artifact-replay oracles (the IVF family) read the PERSISTED
    // assignment parquet instead of re-deriving the O(N × centroids)
    // join in SQL — the sf10-feasibility pattern. The artifact path is
    // only known at run time (root × corpus name), so the static oracle
    // map carries placeholders, rewritten here before the JSON lands.
    // The rewrite happens in the SAME JVM that ran the gates, so the
    // oracle can never read a different artifact than the engine built.
    val ivfRoot = graft.pipeline.ArtifactStore.root(spark, "ivf")
    val sfName = Paths.get(sfDir).getFileName.toString
    // Small-fixture overrides (round-17): where the O(N × centroids)
    // derivation is feasible in SQL, swap in the fully-independent
    // oracle variant (SparkEntry.oracleSqlSmallSf) so the persisted IVF
    // assignment is cross-checked against a from-scratch derivation —
    // an assignment/centroid persistence bug fails THIS gate even
    // though the big-fixture oracles replay the artifact for sf10
    // feasibility. "Small" is decided by the embeddings fixture size,
    // not the directory name, so renamed fixtures behave sanely.
    val smallSf =
      try Files.size(Paths.get(s"$sfDir/embeddings.parquet")) <= 1_000_000L
      catch { case _: Exception => false }
    val withOverrides =
      if (smallSf)
        oracleSqlRaw ++ SparkEntry.oracleSqlSmallSf.filter(kv => oracleSqlRaw.contains(kv._1))
      else oracleSqlRaw
    val oracleSql = withOverrides.map { case (k, v) =>
      k -> v.replace("__GRAFT_IVF_ROOT__", ivfRoot)
        .replace("__GRAFT_SF__", sfName)
    }
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val keep = SparkEntry.select(args.lift(2)).toSet
    // SPARK_GRAFT_MASTER=local-cluster[...] is the multi-JVM shake-out
    // path, where closure capture and JVM-local state actually serialize
    // across executor processes
    val spark = GraftSession.get()
    dump(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)),
      SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    spark.stop()
  }
}
