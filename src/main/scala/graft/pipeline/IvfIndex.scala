package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the IVF coarse index: BOTH halves — the centroid codebook
  * and the [[Similarity.ivfAssign]] output — are INGEST-TIME artifacts,
  * computed once per corpus, persisted, and only read at query time.
  * Recomputing either per query defeats the point of IVF at scale: the
  * O(N × centroids) assignment obviously, but also the codebook itself —
  * deriving centroids from the corpus at probe time (stride-sampling it,
  * let alone training on it) is a full-corpus scan per query, when the
  * probe only ever needs the k-row `(c_id, c_emb)` frame. Queries touch
  * exactly the persisted codebook plus the `nprobe` probed partitions.
  *
  * The coarse quantizer is a parameter ([[Quantizer]]):
  *   - [[Stride]] — every stride-th vector, exactly reproducible across
  *     engines, so oracle-checked entries can replay it in SQL.
  *   - [[Trained]] — [[KMeans.fit]] Lloyd iterations. Better codebooks
  *     mean better probe recall at the same nprobe, but float-sum
  *     aggregation order makes training deterministic only up to ~1 ulp
  *     across runs — which is WHY the codebook must be persisted: the
  *     stored artifact is THE quantizer, and the assignment is always
  *     built from the stored frame, never from a re-run of training, so
  *     probe and assignment can never disagree.
  *
  * Artifacts are keyed by (corpus directory, builder format version,
  * every quantizer parameter) so a different stride/k/seed — or a future
  * change to the algorithm — can never silently reuse an index built
  * under different settings. Build is write-to-unique-temp + atomic
  * rename, so concurrent/restarted builders never expose a partial index
  * and never trample each other's in-progress writes.
  */
object IvfIndex {

  /** Bump when the assignment algorithm or artifact layout changes —
    * part of the cache key, so stale-format indexes rebuild. (v3:
    * assignment derives from the persisted codebook artifact.) */
  val FormatVersion = 3

  /** Coarse-quantizer choice; `token` feeds the artifact cache key. */
  sealed trait Quantizer { def token: String }

  /** Every `stride`-th vector as a centroid — the k-means-lite codebook,
    * exactly reproducible (and SQL-replayable) from the corpus. */
  final case class Stride(stride: Int = 25) extends Quantizer {
    def token = s"s$stride"
  }

  /** [[KMeans.fit]]-trained codebook: `k` centroids, `iters` Lloyd
    * iterations from the seeded init. */
  final case class Trained(k: Int, iters: Int = 3, seed: Long = 42L)
      extends Quantizer {
    def token = s"km${k}i${iters}x$seed"
  }

  /** Deterministic centroid set: every `stride`-th vector — the
    * k-means-lite coarse quantizer (a trained codebook plugs in the same
    * way: any small (c_id, c_emb) frame works). */
  def centroids(emb: DataFrame, idCol: String, embCol: String,
      stride: Int = 25): DataFrame =
    emb.filter(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).as("c_id"), col(embCol).as("c_emb"))

  /** Compute (not read) the codebook for `quantizer` — the build-time
    * half; queries go through [[ensureCentroids]]. */
  def codebook(emb: DataFrame, idCol: String, embCol: String,
      quantizer: Quantizer): DataFrame = quantizer match {
    case Stride(s) => centroids(emb, idCol, embCol, s)
    case Trained(k, iters, seed) =>
      KMeans.fit(emb, idCol, embCol, k, iters, seed)
        // c_id values from KMeans are corpus ids of the init vectors;
        // renumber densely so bucket ids are stable, small longs. The
        // unpartitioned window is deliberate and safe HERE only: it runs
        // once at BUILD time over exactly k codebook rows (never the
        // corpus), persisted behind ensureCentroids — query plans never
        // contain it.
        .withColumn("c_id", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("c_id"), lit(1))).orderBy(col("c_id")))
          .cast("long"))
  }

  /** Read the persisted `(c_id, c_emb)` codebook for the corpus at
    * `corpusDir`, building (and for [[Trained]], training) it first if
    * missing. One small file: the probe side of every IVF query reads
    * this instead of re-deriving centroids from the corpus.
    *
    * `variant` keys an index built over a DERIVED frame of the corpus
    * (a filtered slice, a union with synthetic duplicates — the
    * [[DedupIndex]] convention): same source-file staleness, distinct
    * artifact, so derived and plain indexes can never shadow each other. */
  /** THE centroids-artifact key — one construction shared by build
    * ([[ensureCentroids]]) and read ([[append]]) paths, so the two can
    * never drift byte-for-byte out of sync. */
  def centroidsKey(corpusDir: String, quantizer: Quantizer,
      variant: String): String = {
    val corpus = Paths.get(corpusDir).getFileName.toString
    val vtok = if (variant.isEmpty) "" else s"_$variant"
    s"${corpus}_centroids_v${FormatVersion}_${quantizer.token}$vtok"
  }

  def ensureCentroids(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None,
      variant: String = ""): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "ivf"))
    val key = centroidsKey(corpusDir, quantizer, variant)
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      codebook(emb, idCol, embCol, quantizer)
        .coalesce(1) // k rows — one small file, one probe-side read
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Read the persisted assignment for the corpus at `corpusDir`,
    * building it first if missing. Returns (idCol, embCol, c_id) rows
    * partitioned on disk by c_id. The assignment is always computed from
    * the PERSISTED codebook ([[ensureCentroids]]), so assignment and
    * probe can never see different centroids. */
  def ensure(spark: SparkSession, corpusDir: String, emb: => DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None,
      variant: String = ""): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "ivf"))
    val corpus = Paths.get(corpusDir).getFileName.toString
    val vtok = if (variant.isEmpty) "" else s"_$variant"
    val key = s"${corpus}_v${FormatVersion}_${quantizer.token}$vtok"
    ArtifactStore.ensure(spark, s"$corpusDir/embeddings.parquet", root, key) { tmp =>
      // codebook resolved INSIDE the build closure: a warm query must not
      // pay the centroids artifact's read just to reach a built assignment
      val cents = ensureCentroids(spark, corpusDir, emb, embCol, idCol,
        quantizer, artifactRootOverride, variant)
      Similarity.ivfAssign(emb, embCol, idCol, cents)
        .write.mode("overwrite").partitionBy("c_id").parquet(tmp)
    // partition-column type inference may narrow c_id to int; restore long
    }.withColumn("c_id", col("c_id").cast("long"))
  }

  // ---- incremental maintenance ------------------------------------------

  /** Segmented assignment: the streaming-era IVF lifecycle — each ingest
    * batch assigns ONLY its vectors against the PERSISTED codebook (the
    * stored frame is THE quantizer; appends never retrain, so probe and
    * assignment can never disagree) and appends one O(batch) segment.
    * Per-vector assignment is a pure function of (vector, codebook), so
    * base ∪ deltas is row-identical to a full rebuild (spec-pinned).
    *
    * Layout trade vs [[ensure]]: the one-shot artifact dir-partitions by
    * c_id (probed buckets prune at planning time); segments instead SORT
    * by c_id within one directory — probed reads prune on parquet
    * row-group min/max stats — because partition-column inference over a
    * manifest's many segment roots is not portable. Fold segments
    * through [[ArtifactStore.compactSegments]] when delta count grows. */
  private def segKey(corpusDir: String, quantizer: Quantizer,
      variant: String): String = {
    val corpus = Paths.get(corpusDir).getFileName.toString
    s"${corpus}_seg_v${FormatVersion}_${quantizer.token}_$variant"
  }

  def ensureSegmented(spark: SparkSession, corpusDir: String, baseEmb: DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None,
      variant: String = "seg"): DataFrame = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "ivf"))
    ArtifactStore.ensureSegmented(spark, root, segKey(corpusDir, quantizer, variant),
      sourceFile = Some(s"$corpusDir/embeddings.parquet")) { tmp =>
      val cents = ensureCentroids(spark, corpusDir, baseEmb, embCol, idCol,
        quantizer, artifactRootOverride, s"seg_$variant")
      Similarity.ivfAssign(baseEmb, embCol, idCol, cents)
        .sort(col("c_id"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Append the assignment segment for NEW vectors: the codebook is READ
    * from the persisted artifact — never built, let alone from the delta.
    * A missing OR STALE codebook fails loudly (run [[ensureSegmented]]
    * over the base first): quietly deriving a quantizer from one
    * micro-batch would degrade every bucket until someone noticed recall
    * collapse, and quietly assigning against a codebook older than a
    * regenerated corpus would be the same rot from the other side. */
  def append(spark: SparkSession, corpusDir: String, newEmb: DataFrame,
      embCol: String, idCol: String, quantizer: Quantizer = Stride(),
      artifactRootOverride: Option[String] = None,
      variant: String = "seg"): Unit = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "ivf"))
    val centKey = centroidsKey(corpusDir, quantizer, s"seg_$variant")
    val centPath = Paths.get(s"$root/$centKey")
    require(java.nio.file.Files.exists(centPath),
      s"IvfIndex.append: no persisted codebook at $centPath — " +
        "build the base with ensureSegmented first")
    val src = Paths.get(s"$corpusDir/embeddings.parquet")
    require(!java.nio.file.Files.exists(src) ||
      java.nio.file.Files.getLastModifiedTime(src)
        .compareTo(java.nio.file.Files.getLastModifiedTime(centPath)) <= 0,
      s"IvfIndex.append: codebook at $centPath is STALE (corpus regenerated " +
        "after it was trained) — rebuild the base with ensureSegmented first")
    val cents = graft.RelationCache.parquet(spark, centPath.toString)
    ArtifactStore.appendSegment(spark, root, segKey(corpusDir, quantizer, variant)) {
      tmp => Similarity.ivfAssign(newEmb, embCol, idCol, cents)
        .sort(col("c_id"))
        .write.mode("overwrite").parquet(tmp)
    }
  }
}
