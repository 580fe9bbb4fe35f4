package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the product-quantization index ([[Pq]]) — same contract
  * as [[IvfIndex]]/[[SqIndex]]: the codebook AND the per-vector codes
  * are INGEST-TIME artifacts, built once per corpus, persisted through
  * [[ArtifactStore]]'s unique-tmp + atomic-rename commit, keyed by
  * (corpus, format version, every quantizer parameter). Queries read
  * the tiny m×k codebook (one file) to build the per-query ADC table
  * and scan ONLY the packed m-byte codes — at d=64/m=8 that is 32×
  * less bandwidth than the float vectors, the reason PQ is the 100 TB
  * layout for billion-vector search.
  *
  * The codes artifact is always encoded from the PERSISTED codebook,
  * never from a re-run of sampling/training — so codes and ADC tables
  * can never disagree about codeword values (the [[IvfIndex]] rule;
  * for the [[Trained]] flavor, whose float means are deterministic only
  * up to aggregation order, this is what makes the artifact THE
  * quantizer).
  */
object PqIndex {

  /** Bump when the encoding algorithm or artifact layout changes. */
  val FormatVersion = 1

  /** Codebook choice; `token` feeds every artifact cache key. All
    * flavors share the geometry: `m` subspaces × `k` codewords over
    * `dim`-dim vectors. */
  sealed trait Quantizer {
    def m: Int; def k: Int; def dim: Int
    def ds: Int = dim / m
    def token: String
  }

  /** Stride-sampled codewords ([[Pq.strideCodebook]]) — exactly
    * reproducible (and SQL-replayable) from the corpus. The token
    * carries EVERY parameter (stride, m, k, dim) — two configurations
    * may never share a cache key. */
  final case class Stride(m: Int = Pq.DefaultM, k: Int = Pq.DefaultK,
      stride: Int = Pq.DefaultStride, dim: Int = 64) extends Quantizer {
    def token = s"s${stride}x${m}x${k}d$dim"
  }

  /** Lloyd-trained per-subspace codewords ([[Pq.trainCodebook]]),
    * initialized from the stride sample — the token again carries every
    * parameter, including the init stride. */
  final case class Trained(m: Int = Pq.DefaultM, k: Int = Pq.DefaultK,
      stride: Int = Pq.DefaultStride, iters: Int = 3, dim: Int = 64)
      extends Quantizer {
    def token = s"km${m}x${k}i${iters}s${stride}d$dim"
  }

  private def codebookOf(emb: DataFrame, embCol: String, idCol: String,
      q: Quantizer): DataFrame = q match {
    case Stride(m, k, stride, dim) =>
      Pq.strideCodebook(emb, embCol, idCol, m, dim / m, k, stride)
    case Trained(m, k, stride, iters, dim) =>
      Pq.trainCodebook(emb, embCol, idCol, m, dim / m, k, stride, iters)
  }

  /** Read the persisted `(m, j, c_sub, cdot)` codebook for the corpus at
    * `corpusDir`, building (and for [[Trained]], training) it first if
    * missing. One small file — the ADC-table side of every PQ query. */
  def ensureCodebook(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "pq"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key = s"pq_${corpus}_codebook_v${FormatVersion}_${quantizer.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      codebookOf(emb, embCol, idCol, quantizer)
        .coalesce(1) // m×k rows — one small file
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Read the persisted flat codes `(idCol, codes)`, encoding from the
    * persisted codebook first if missing. */
  def ensure(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "pq"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key = s"pq_${corpus}_codes_v${FormatVersion}_${quantizer.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      // codebook resolved INSIDE the build closure: a warm query must not
      // pay the codebook artifact's read just to reach built codes
      val cb = ensureCodebook(spark, corpusDir, emb, embCol, idCol,
        quantizer, artifactRootOverride)
      Pq.codesOf(emb, embCol, idCol, cb, quantizer.m, quantizer.ds)
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Read the persisted RESIDUAL codebook `(m, j, c_sub, cdot)` — the
    * faiss-default IVF-PQ flavor: codewords quantize v − centroid(v)
    * (computed from the persisted coarse assignment + codebook, so
    * residuals, codes, and ADC tables all agree on centroid values).
    * Sub-vectors are exact doubles ([[Pq.residuals]]). */
  def ensureResidualCodebook(spark: SparkSession, corpusDir: String,
      emb: => DataFrame, embCol: String, idCol: String,
      quantizer: Quantizer = Stride(),
      coarse: IvfIndex.Quantizer = IvfIndex.Stride(),
      artifactRootOverride: Option[String] = None,
      ivfArtifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "pq"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key = s"rpq_${corpus}_codebook_v${FormatVersion}_ivfv${IvfIndex.FormatVersion}" +
      s"_${quantizer.token}_${coarse.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      val resid = residualsOf(spark, corpusDir, emb, embCol, idCol, coarse,
        ivfArtifactRootOverride)
      (quantizer match {
        case Stride(m, k, stride, dim) =>
          Pq.strideCodebook(resid, "r", idCol, m, dim / m, k, stride)
        case Trained(m, k, stride, iters, dim) =>
          Pq.trainCodebook(resid, "r", idCol, m, dim / m, k, stride, iters)
      }).coalesce(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** Read the persisted residual codes `(idCol, codes, c_id)`,
    * partitioned by centroid id like [[ensureIvf]] — the
    * [[Pq.ivfPqResidualTopK]] layout. */
  def ensureResidual(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      coarse: IvfIndex.Quantizer = IvfIndex.Stride(),
      artifactRootOverride: Option[String] = None,
      ivfArtifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "pq"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key = s"rpq_${corpus}_codes_v${FormatVersion}_ivfv${IvfIndex.FormatVersion}" +
      s"_${quantizer.token}_${coarse.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      val resid = residualsOf(spark, corpusDir, emb, embCol, idCol, coarse,
        ivfArtifactRootOverride)
      val cb = ensureResidualCodebook(spark, corpusDir, emb, embCol, idCol,
        quantizer, coarse, artifactRootOverride, ivfArtifactRootOverride)
      Pq.codesOf(resid, "r", idCol, cb, quantizer.m, quantizer.ds)
        .join(resid.select(col(idCol), col("c_id")), Seq(idCol))
        .write.mode("overwrite").partitionBy("c_id").parquet(tmp)
    }.withColumn("c_id", col("c_id").cast("long"))
  }

  private def residualsOf(spark: SparkSession, corpusDir: String,
      emb: DataFrame, embCol: String, idCol: String,
      coarse: IvfIndex.Quantizer,
      ivfArtifactRootOverride: Option[String]): DataFrame =
    Pq.residuals(
      IvfIndex.ensure(spark, corpusDir, emb, embCol, idCol, coarse,
        ivfArtifactRootOverride),
      embCol, idCol,
      IvfIndex.ensureCentroids(spark, corpusDir, emb, embCol, idCol, coarse,
        ivfArtifactRootOverride))

  /** Read the persisted IVF-partitioned codes `(idCol, codes, c_id)` —
    * the [[Pq.ivfPqTopK]] layout: codes joined onto the persisted
    * [[IvfIndex.ensure]] coarse assignment and written partitioned by
    * centroid id, so a probed query lists and scans only its `nprobe`
    * buckets' code files. The cache key carries BOTH quantizers' tokens
    * and format versions. */
  def ensureIvf(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      coarse: IvfIndex.Quantizer = IvfIndex.Stride(),
      artifactRootOverride: Option[String] = None,
      ivfArtifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "pq"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val key = s"ivfpq_${corpus}_v${FormatVersion}_ivfv${IvfIndex.FormatVersion}" +
      s"_${quantizer.token}_${coarse.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      val assigned = IvfIndex.ensure(spark, corpusDir, emb, embCol, idCol,
        coarse, ivfArtifactRootOverride)
      ensure(spark, corpusDir, emb, embCol, idCol, quantizer,
          artifactRootOverride)
        .join(assigned.select(col(idCol), col("c_id")), Seq(idCol))
        .write.mode("overwrite").partitionBy("c_id").parquet(tmp)
    // partition-column type inference may narrow c_id to int; restore long
    }.withColumn("c_id", col("c_id").cast("long"))
  }
}
