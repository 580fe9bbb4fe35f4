package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the int8 scalar-quantization codes — the bandwidth half
  * of [[IvfIndex]]: per-vector `(codes, scale)` ([[Quantize]]) are an
  * INGEST-TIME artifact, quantized once per corpus. Computing them at
  * query time forfeits exactly what SQ8 exists for — the query-time scan
  * would still read every float32 vector and then pay the quantization
  * on top. Persisted, a quantized scan reads packed one-byte codes
  * (binary column, the faiss layout — the true 4× under float32 on disk
  * AND in memory; the artifact deliberately does NOT carry the embedding
  * column) and ranks with the codegen'd packed integer dot
  * ([[Quantize.packedDot]]).
  *
  * Two layouts, same keying/commit discipline as every other index:
  *   - [[ensure]]: flat `(idCol, codes, scale)` — brute-force quantized
  *     scan (the [[graft.queries.PipelineQueries]] S5 shape).
  *   - [[ensureIvf]]: `(idCol, codes, scale, c_id)` partitioned by the
  *     IVF coarse assignment's centroid id — probed quantized search
  *     (the faiss IVF+SQ composition, S6): a query reads only its
  *     `nprobe` buckets' codes. Derives from the persisted
  *     [[IvfIndex]] assignment, so assignment and codes can never
  *     disagree about a vector.
  */
object SqIndex {

  /** Bump when the quantization scheme or artifact layout changes. */
  val FormatVersion = 1

  /** Persisted flat codes `(idCol, codes, scale)` for the corpus at
    * `corpusDir`. */
  def ensure(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sq"))
    val key = s"sq8_${Paths.get(corpusDir).getFileName}_v$FormatVersion"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      Quantize.withQuantizedPacked(emb.select(col(idCol), col(embCol)), embCol)
        .select(col(idCol), col("codes"), col("scale"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  private def segKey(corpusDir: String, variant: String) =
    s"sq8seg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  /** Segmented flat codes for INCREMENTAL maintenance: quantization is
    * per-row pure (codes depend only on the vector), so each ingest
    * batch quantizes only ITS vectors and commits one delta segment
    * through the fsynced manifest swap — O(batch) work per micro-batch,
    * with base ∪ deltas bit-identical to a full rebuild (spec-pinned).
    * Compact periodically with [[ArtifactStore.compactSegments]]. */
  def ensureSegmented(spark: SparkSession, corpusDir: String,
      baseEmb: DataFrame, embCol: String, idCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sq")),
      segKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/embeddings.parquet")) { tmp =>
      Quantize.withQuantizedPacked(baseEmb.select(col(idCol), col(embCol)), embCol)
        .select(col(idCol), col("codes"), col("scale"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append codes for NEW vectors to the segmented artifact. */
  def append(spark: SparkSession, corpusDir: String, newEmb: DataFrame,
      embCol: String, idCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sq")),
      segKey(corpusDir, variant)) { tmp =>
      Quantize.withQuantizedPacked(newEmb.select(col(idCol), col(embCol)), embCol)
        .select(col(idCol), col("codes"), col("scale"))
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted IVF-partitioned codes `(idCol, codes, scale, c_id)` —
    * quantized from the persisted [[IvfIndex.ensure]] assignment (built
    * first if missing) and laid out by centroid id so a probed query
    * scans only its buckets' codes. The cache key carries the IVF
    * quantizer token (every assignment parameter) plus both format
    * versions. */
  def ensureIvf(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String,
      quantizer: IvfIndex.Quantizer = IvfIndex.Stride(),
      artifactRootOverride: Option[String] = None,
      ivfArtifactRootOverride: Option[String] = None): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sq"))
    val key = s"ivfsq8_${Paths.get(corpusDir).getFileName}" +
      s"_v${FormatVersion}_ivfv${IvfIndex.FormatVersion}_${quantizer.token}"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      // the IVF assignment is resolved INSIDE the build closure: a warm
      // query must not pay the assignment artifact's read/listing cost
      // just to reach its already-built quantized twin
      val assigned = IvfIndex.ensure(spark, corpusDir, emb, embCol, idCol,
        quantizer, ivfArtifactRootOverride)
      Quantize.withQuantizedPacked(assigned, embCol)
        .select(col(idCol), col("codes"), col("scale"), col("c_id"))
        .write.mode("overwrite").partitionBy("c_id").parquet(tmp)
    // partition-column type inference may narrow c_id to int; restore long
    }.withColumn("c_id", col("c_id").cast("long"))
  }
}
