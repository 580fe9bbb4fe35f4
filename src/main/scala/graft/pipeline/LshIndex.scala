package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the hyperplane-LSH signature index — the ANN counterpart
  * of [[IvfIndex]]: per-vector sign-bit bucket signatures (one long per
  * table) plus the staged vector norm are an INGEST-TIME artifact.
  * Computing them at query time costs `tables × planes` interpreted HOF
  * dot products PER CORPUS ROW per query — the round-3 plan audit's
  * "weak-by-lifecycle" finding; reading them back turns the candidate
  * filter into codegen'd long comparisons and the exact scoring into one
  * dot per candidate.
  *
  * The signature definition (seeded planes, fold-based dots) is shared
  * with the on-the-fly path in [[Similarity]], so an indexed query
  * returns bit-identical results to the unindexed one — and the DuckDB
  * oracle that re-derives the seeded planes keeps hash-matching.
  */
object LshIndex {

  /** Bump when the signature algorithm or artifact layout changes. */
  val FormatVersion = 1

  /** The signature rows: `(idCol, embCol, nrm, sig)` where `sig[t]` is the
    * vector's bucket in table `t` and `nrm` its staged L2 norm. */
  def signatures(emb: DataFrame, embCol: String, idCol: String,
      planesPerTable: Int, tables: Int, dim: Int, seed: Long): DataFrame = {
    val tablePlanes = (0 until tables)
      .map(t => Similarity.hyperplanes(planesPerTable, dim, seed + t))
    emb.select(col(idCol), col(embCol),
      Similarity.norm(col(embCol)).as("nrm"),
      array(tablePlanes.map(p => Similarity.lshBucket(col(embCol), p)): _*).as("sig"))
  }

  /** Read the persisted signatures for the corpus at `corpusDir`,
    * building them first if missing. Cache key includes every build
    * parameter and a format version, so changed settings rebuild rather
    * than silently reuse; builds stage through a unique per-attempt tmp
    * dir and commit with one atomic rename. */
  def ensure(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, planesPerTable: Int, tables: Int,
      dim: Int = 64, seed: Long = 42L,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "lsh"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key =
      s"${corpus}_v${FormatVersion}_p${planesPerTable}x${tables}_d${dim}_s$seed"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      signatures(emb, embCol, idCol, planesPerTable, tables, dim, seed)
        .write.mode("overwrite").parquet(tmp)
    }
  }
}
