package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the dedup sketch tables — the text counterpart of
  * [[IvfIndex]]/[[LshIndex]]: MinHash signature rows, SimHash
  * fingerprints, and winnowing window fingerprints are INGEST-TIME
  * artifacts. A production pipeline
  * fingerprints documents once as they land; near-dup queries then only
  * band/bucket-join the stored sketches and verify candidates — the
  * explode → 32-to-60-column aggregation never runs at query time.
  *
  * Cache keys include the corpus, a caller-supplied `variant` tag (the
  * deterministic corpus transformation being sketched, e.g. a bounded
  * slice plus constructed mutants), a format version, and every sketch
  * parameter; builds stage through a unique per-attempt tmp dir and
  * commit with one atomic rename, exactly like the ANN indexes.
  */
object DedupIndex {

  /** Bump when a sketch algorithm or artifact layout changes. */
  val FormatVersion = 1

  private def ensure(spark: SparkSession, corpusDir: String, key: String,
      root: String, build: => DataFrame): DataFrame =
    ArtifactStore.ensure(spark, s"$corpusDir/documents.parquet", root, key) {
      tmp => build.write.mode("overwrite").parquet(tmp)
    }

  /** Persisted MinHash signature rows `(__id, __m0 … __m{numHashes-1})`
    * of `corpus` (which must be a deterministic function of `corpusDir`,
    * tagged by `variant`). */
  def ensureMinHash(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String,
      shingleN: Int = 3, numHashes: Int = 32,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"minhash_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_n${shingleN}_h$numHashes",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      Dedup.minHashSignatureRows(corpus, idCol, textCol, shingleN, numHashes))

  // ---- incremental maintenance ------------------------------------------

  /** Segmented MinHash signatures: like [[ensureMinHash]] but the
    * artifact grows by APPEND instead of full rebuild — the streaming-era
    * lifecycle (each ingest batch sketches only ITS documents; the
    * sketch work already done for the corpus is never repeated). Commits
    * ride [[ArtifactStore]]'s fsynced manifest swap, so a crashed append
    * is invisible to every reader. Single writer, like the block store.
    * The per-document signature is a pure function of the text, so
    * base ∪ deltas is bit-identical to a full rebuild (spec-pinned). */
  private def segKey(corpusDir: String, variant: String, shingleN: Int,
      numHashes: Int): String =
    s"minhashseg_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_n${shingleN}_h$numHashes"

  def ensureMinHashSegmented(spark: SparkSession, corpusDir: String,
      baseDocs: DataFrame, idCol: String, textCol: String, variant: String,
      shingleN: Int = 3, numHashes: Int = 32,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      segKey(corpusDir, variant, shingleN, numHashes),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => Dedup.minHashSignatureRows(baseDocs, idCol, textCol, shingleN, numHashes)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append signatures for NEW documents to the segmented artifact. */
  def appendMinHash(spark: SparkSession, corpusDir: String, newDocs: DataFrame,
      idCol: String, textCol: String, variant: String,
      shingleN: Int = 3, numHashes: Int = 32,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      segKey(corpusDir, variant, shingleN, numHashes)) {
      tmp => Dedup.minHashSignatureRows(newDocs, idCol, textCol, shingleN, numHashes)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted winnowing window-fingerprint rows `(__id, __fp)` (see
    * [[TextAnalysis.rollingFingerprintRows]]). */
  def ensureWinnowing(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String, window: Int = 8,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"winnow_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_w$window",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      TextAnalysis.rollingFingerprintRows(corpus, idCol, textCol, window))

  /** Persisted POSITIONED window-fingerprint rows `(__id, __start, __fp)`
    * for exact substring dedup (see [[Dedup.windowFingerprintRows]]) —
    * winnowing's sketch keeps distinct fingerprints for overlap
    * detection; this one keeps every site so duplicate SPANS can be cut. */
  def ensureSubstrWindows(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String, window: Int = 8,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"substr_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_w$window",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      Dedup.windowFingerprintRows(corpus, idCol, textCol, window))

  /** Segmented positional window fingerprints: the streaming-era
    * substring-dedup lifecycle — each ingest batch fingerprints only ITS
    * documents ([[Dedup.windowFingerprintRows]] is a per-document pure
    * function, so base ∪ deltas ≡ full rebuild), and span election
    * ([[Dedup.removableWindowSites]]) runs over the merged segments. */
  private def substrSegKey(corpusDir: String, variant: String, window: Int): String =
    s"substrseg_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_w$window"

  def ensureSubstrWindowsSegmented(spark: SparkSession, corpusDir: String,
      baseDocs: DataFrame, idCol: String, textCol: String, variant: String,
      window: Int = 8, artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      substrSegKey(corpusDir, variant, window),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => Dedup.windowFingerprintRows(baseDocs, idCol, textCol, window)
        .write.mode("overwrite").parquet(tmp)
    }

  def appendSubstrWindows(spark: SparkSession, corpusDir: String,
      newDocs: DataFrame, idCol: String, textCol: String, variant: String,
      window: Int = 8, artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      substrSegKey(corpusDir, variant, window)) {
      tmp => Dedup.windowFingerprintRows(newDocs, idCol, textCol, window)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted IMAGE perceptual fingerprints `(__id, __sim)` — the
    * image counterpart of [[ensureSimHash]]: 64-bit dHash over the
    * decoded pixels ([[PerceptualHash.dHash]]), computed once at
    * ingest; near-dup queries band/bucket-join the stored longs
    * through the SAME pairing machinery as text SimHash
    * ([[Dedup.simHashNearDupPairsFromFingerprints]]). */
  def ensureImageDHash(spark: SparkSession, corpusDir: String, images: => DataFrame,
      idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"imgdhash_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      imageDHashRows(images, idCol, bytesCol))

  private def imageDHashRows(images: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    images.select(col(idCol).as("__id"),
        call_function("image_dhash", col(bytesCol)).as("__sim"))
      .filter(col("__sim").isNotNull)

  private def imgSegKey(corpusDir: String, variant: String): String =
    s"imgdhashseg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  /** Segmented image fingerprints: [[ensureImageDHash]] grown by APPEND —
    * the streaming-era lifecycle (each ingest batch hashes only ITS
    * images). The dHash is a pure per-row function of the bytes, so
    * base ∪ deltas is bit-identical to a full rebuild (spec-pinned). */
  def ensureImageDHashSegmented(spark: SparkSession, corpusDir: String,
      baseImages: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      imgSegKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => imageDHashRows(baseImages, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append fingerprints for NEW images to the segmented artifact. */
  def appendImageDHash(spark: SparkSession, corpusDir: String,
      newImages: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      imgSegKey(corpusDir, variant)) {
      tmp => imageDHashRows(newImages, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted AUDIO perceptual fingerprints `(__id, __sim)` — the audio
    * counterpart of [[ensureImageDHash]]: the 64-bit band-energy
    * comparison fingerprint ([[AudioFingerprint]]) over the
    * [[AudioNorm]]-normalized PCM, computed once at ingest; near-dup
    * queries band/bucket-join the stored longs through the SAME pairing
    * machinery as text SimHash and image dHash. */
  def ensureAudioFingerprint(spark: SparkSession, corpusDir: String,
      audio: => DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"audiofp_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      audioFingerprintRows(audio, idCol, bytesCol))

  private def audioFingerprintRows(audio: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    audio.select(col(idCol).as("__id"),
        call_function("audio_fingerprint", col(bytesCol)).as("__sim"))
      .filter(col("__sim").isNotNull)

  private def audioSegKey(corpusDir: String, variant: String): String =
    s"audiofpseg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  /** Segmented audio fingerprints; append ≡ rebuild (pure per-row fn). */
  def ensureAudioFingerprintSegmented(spark: SparkSession, corpusDir: String,
      baseAudio: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      audioSegKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => audioFingerprintRows(baseAudio, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append fingerprints for NEW audio rows to the segmented artifact. */
  def appendAudioFingerprint(spark: SparkSession, corpusDir: String,
      newAudio: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      audioSegKey(corpusDir, variant)) {
      tmp => audioFingerprintRows(newAudio, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted VIDEO perceptual fingerprints `(__id, __sim)` — the video
    * counterpart of [[ensureAudioFingerprint]]: the 64-bit
    * temporal+spatial comparison fingerprint ([[VideoFingerprint]]) over
    * the composited [[GifAnim]] frames, computed once at ingest;
    * near-dup queries band/bucket-join the stored longs through the SAME
    * pairing machinery as text SimHash, image dHash and audio. */
  def ensureVideoFingerprint(spark: SparkSession, corpusDir: String,
      video: => DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"videofp_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      videoFingerprintRows(video, idCol, bytesCol))

  private def videoFingerprintRows(video: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    video.select(col(idCol).as("__id"),
        call_function("video_fingerprint", col(bytesCol)).as("__sim"))
      .filter(col("__sim").isNotNull)

  private def videoSegKey(corpusDir: String, variant: String): String =
    s"videofpseg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  /** Segmented video fingerprints; append ≡ rebuild (pure per-row fn). */
  def ensureVideoFingerprintSegmented(spark: SparkSession, corpusDir: String,
      baseVideo: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      videoSegKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => videoFingerprintRows(baseVideo, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append fingerprints for NEW video rows to the segmented artifact. */
  def appendVideoFingerprint(spark: SparkSession, corpusDir: String,
      newVideo: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      videoSegKey(corpusDir, variant)) {
      tmp => videoFingerprintRows(newVideo, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted STRUCTURAL AV fingerprints `(__id, __sim)` — the
    * real-container (IVF/MP4/ADTS) counterpart of
    * [[ensureVideoFingerprint]]: the 64-bit temporal + stream-order
    * comparison fingerprint ([[StructFingerprint]]) over the per-frame
    * byte-size + duration walk, computed once at ingest, no entropy
    * decode; pairing reuses the SAME banded machinery. */
  def ensureStructFingerprint(spark: SparkSession, corpusDir: String,
      av: => DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"structfp_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      structFingerprintRows(av, idCol, bytesCol))

  private def structFingerprintRows(av: DataFrame, idCol: String,
      bytesCol: String): DataFrame =
    av.select(col(idCol).as("__id"),
        call_function("av_struct_fingerprint", col(bytesCol)).as("__sim"))
      .filter(col("__sim").isNotNull)

  private def structSegKey(corpusDir: String, variant: String): String =
    s"structfpseg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  /** Segmented structural AV fingerprints; append ≡ rebuild (pure
    * per-row fn). */
  def ensureStructFingerprintSegmented(spark: SparkSession, corpusDir: String,
      baseAv: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      structSegKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => structFingerprintRows(baseAv, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append fingerprints for NEW AV rows to the segmented artifact. */
  def appendStructFingerprint(spark: SparkSession, corpusDir: String,
      newAv: DataFrame, idCol: String, bytesCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      structSegKey(corpusDir, variant)) {
      tmp => structFingerprintRows(newAv, idCol, bytesCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Persisted SimHash fingerprints `(__id, __sim)`. `hashTag` names the
    * per-shingle hash function in the cache key (the Column function
    * itself can't be fingerprinted). */
  def ensureSimHash(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String, hashTag: String,
      hashFn: Column => Column, shingleN: Int = 3, bits: Int = 64,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensure(spark, corpusDir,
      s"simhash_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_n${shingleN}_b${bits}_$hashTag",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      Dedup.simHashFingerprints(corpus, idCol, textCol, shingleN, hashFn, bits))

  private def simSegKey(corpusDir: String, variant: String, hashTag: String,
      shingleN: Int, bits: Int): String =
    s"simhashseg_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_n${shingleN}_b${bits}_$hashTag"

  /** Segmented SimHash fingerprints: [[ensureSimHash]] grown by APPEND.
    * The per-document fingerprint is a pure function of the text, so
    * base ∪ deltas ≡ full rebuild (spec-pinned). */
  def ensureSimHashSegmented(spark: SparkSession, corpusDir: String,
      baseDocs: DataFrame, idCol: String, textCol: String, variant: String,
      hashTag: String, hashFn: Column => Column, shingleN: Int = 3,
      bits: Int = 64, artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      simSegKey(corpusDir, variant, hashTag, shingleN, bits),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => Dedup.simHashFingerprints(baseDocs, idCol, textCol, shingleN, hashFn, bits)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append fingerprints for NEW documents to the segmented artifact. */
  def appendSimHash(spark: SparkSession, corpusDir: String, newDocs: DataFrame,
      idCol: String, textCol: String, variant: String, hashTag: String,
      hashFn: Column => Column, shingleN: Int = 3, bits: Int = 64,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "dedup")),
      simSegKey(corpusDir, variant, hashTag, shingleN, bits)) {
      tmp => Dedup.simHashFingerprints(newDocs, idCol, textCol, shingleN, hashFn, bits)
        .write.mode("overwrite").parquet(tmp)
    }
}
