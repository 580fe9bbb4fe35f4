package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Mergeable frequency/cardinality sketches — Count-Min (Cormode &
  * Muthukrishnan 2005) and HyperLogLog (Flajolet et al. 2007) — built as
  * small persisted artifacts so 100 TB statistics (heavy-hitter n-grams,
  * distinct-URL counts) cost one partial-aggregated pass, and incremental
  * batches MERGE (cell-wise sum / max) instead of re-scanning the corpus.
  *
  * Both sketches hash with sha256-derived integers ([[Dedup.sha60]] and
  * hex-prefix folds), and the HLL leading-zero rank is an OR-fold +
  * `bit_count` — pure integer arithmetic, so a SQL oracle replays every
  * cell exactly (the driver gate hash-verifies the sketches end-to-end;
  * production deployments can swap xxhash64 in via the hash parameters).
  *
  * Scale design:
  *   - The CMS is depth×width ≈ 2k cells regardless of corpus size; it is
  *     built from the term-count frame (vocabulary-sized, itself one
  *     map-side-combined shuffle), and estimates broadcast-join it.
  *   - The HLL is ≤ `m` register rows; registers aggregate with map-side
  *     partial `max`, so the full pass shuffles m rows per task.
  *   - Segmented artifacts: each ingest batch writes ITS sketch segment;
  *     readers fold segments with the sketch's merge (sum / max) — an
  *     O(segments × cells) aggregate, never a corpus re-scan.
  */
object Sketches {

  // ---- Count-Min sketch --------------------------------------------------

  val CmsDepth = 4

  /** Row-j bucket for a term: an independent 60-bit hash from sha256 hex
    * digits [15j, 15j+15), mod `width`. Four rows use 60 of the 64 hex
    * digits; widths up to 2^20 keep every row far below collision
    * saturation at fixture scale. */
  def cmsBucket(term: Column, j: Int, width: Int): Column =
    pmod(conv(substring(sha2(term, 256), 15 * j + 1, 15), 16, 10)
      .cast(LongType), lit(width.toLong))

  /** SQL twin of [[cmsBucket]] for DuckDB oracles (the [[Dedup.sha60Sql]]
    * digit fold over row j's 15-hex-digit slice, mod width). */
  def cmsBucketSql(c: String, j: Int, width: Int): String = {
    val lo = 15 * j + 1
    s"(CAST(list_sum(list_transform(range($lo, ${lo + 15}), i -> " +
      s"CAST(strpos('0123456789abcdef', substring(sha256($c), CAST(i AS INT), 1)) - 1 AS BIGINT) " +
      s"* (CAST(1 AS BIGINT) << CAST(4 * (${lo + 14} - i) AS INT)))) AS BIGINT) % $width)"
  }

  /** Sketch cells `(j, bucket, cnt)` from a term-count frame
    * `(termCol, cntCol)` — the vocabulary-sized aggregate, NOT the raw
    * token stream: each distinct term adds its full weight to one cell
    * per row, so the explode is 4× vocabulary, not 4× corpus. */
  def cmsCells(termCounts: DataFrame, termCol: String, cntCol: String,
      width: Int): DataFrame =
    termCounts.select(col(cntCol).as("__c"),
      posexplode(array((0 until CmsDepth).map(j =>
        cmsBucket(col(termCol), j, width)): _*)).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("__c")).as("cnt"))

  /** Point estimates for `probes` (a frame with `termCol`): the min over
    * the term's depth cells — the classic CMS upper-bound estimate
    * (never under, over only on collisions). The sketch side is ≤
    * depth×width rows and broadcasts; absent cells mean zero. */
  def cmsEstimate(cells: DataFrame, probes: DataFrame, termCol: String,
      width: Int): DataFrame =
    probes.select(col(termCol),
        posexplode(array((0 until CmsDepth).map(j =>
          cmsBucket(col(termCol), j, width)): _*)).as(Seq("j", "bucket")))
      .join(broadcast(cells), Seq("j", "bucket"), "left")
      .groupBy(col(termCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  // ---- HyperLogLog -------------------------------------------------------

  /** Highest-set-bit length of a value < 2^52 via a shift-OR fold +
    * `bit_count` — exact integer arithmetic with a direct SQL twin
    * (no float log2 whose boundary ulps could differ across engines). */
  def bitLen52(r: Column): Column =
    bit_count(Seq(1, 2, 4, 8, 16, 32).foldLeft(r)(
      (acc, s) => acc.bitwiseOR(shiftright(acc, s)))).cast(LongType)

  /** HLL registers `(bucket, reg)` over a column: bucket = top 8 of the
    * 60-bit sha-derived hash (m = 256), reg = max over elements of the
    * rank of the first set bit in the remaining 52 (1-based; an all-zero
    * remainder ranks 53). Registers merge by cell-wise max — the
    * partial-agg shape AND the cross-batch merge are the same `max`. */
  val HllBuckets = 256

  def hllRegisters(df: DataFrame, valueCol: String): DataFrame = {
    val h = Dedup.sha60(col(valueCol))
    val r = h.bitwiseAND(lit((1L << 52) - 1))
    df.select(shiftright(h, 52).as("bucket"),
        when(r === 0L, lit(53L)).otherwise(lit(53L) - bitLen52(r)).as("__rho"))
      .groupBy(col("bucket"))
      .agg(max(col("__rho")).as("reg"))
  }

  /** The raw-estimate constant α_m·m²·2^53 for m = 256: the 2^53 factor
    * clears the register sum to an exact BIGINT numerator (registers are
    * ≤ 53, so Σ 2^(53−reg) ≤ 256·2^53 < 2^62). One double division at
    * the end keeps the whole estimate a deterministic function of the
    * integer register table — replayable bit-for-bit by any engine. */
  val HllAlphaM2Pow53: Double =
    0.7213 / (1.0 + 1.079 / HllBuckets) * HllBuckets.toDouble * HllBuckets.toDouble * 9007199254740992.0

  /** Raw HLL estimate from a register frame: absent buckets count as
    * register 0 (contributing 2^53 each). Returns one row
    * `(num, est)` — the exact integer numerator and the double
    * estimate. (Fixture cardinalities sit in HLL's raw-estimate regime;
    * the small-range linear-counting correction is deliberately omitted
    * to keep the gate a single exact expression.) */
  def hllEstimate(registers: DataFrame): DataFrame =
    registers
      // shift amount is a column, so the SQL ShiftLeft expression is used
      // directly (the Scala wrapper only accepts literal shift counts)
      // coalesce: an empty register frame (empty corpus/segment) must yield
      // the defined all-registers-absent numerator 256·2^53, not NULL
      .agg((coalesce(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - reg AS INT))")), lit(0L)) +
        (lit(HllBuckets.toLong) - count(lit(1))) * lit(1L << 53)).as("num"))
      .select(col("num"), (lit(HllAlphaM2Pow53) / col("num")).as("est"))

  // ---- Bloom filter ------------------------------------------------------

  /** Bloom membership filter (Bloom 1970) — the third sketch:
    * frequency (CMS), cardinality (HLL), MEMBERSHIP (this). The filter
    * is a `bits`-wide bit array stored as 32-bit words in BIGINTs
    * (shift counts stay ≤ 31 — a 63-bit shift overflows some engines'
    * checked BIGINT shift, and 32-bit words replay everywhere), k = 4
    * set bits per value from the same sha256-slice hashes as the CMS
    * rows. No false negatives ever; false positives at the classic
    * (1−e^(−kn/m))^k rate. Merge = word-wise OR, so ingest batches
    * append word tables and readers fold them. */
  val BloomHashes = 4

  /** Filter words `(word, bits)` from a value frame: explode each
    * value's k (word, mask) pairs, OR per word. Word count ≤ bits/32
    * regardless of corpus size — the whole filter broadcasts. */
  def bloomWords(values: DataFrame, valueCol: String, bits: Int): DataFrame =
    values
      .select(posexplode(array((0 until BloomHashes).map(j =>
        cmsBucket(col(valueCol), j, bits)): _*)).as(Seq("__j", "__pos")))
      .select((col("__pos") / 32).cast(LongType).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 32 AS INT))").as("__m"))
      .groupBy(col("word"))
      .agg(expr("bit_or(__m)").as("bits"))

  /** Membership probe: true iff every one of the value's k bits is set.
    * Returns one `(valueCol, hit)` row PER PROBE ROW (probe distinct
    * values upstream if needed) — never a false negative.
    *
    * r17 opt (the [[graft.queries.PipelineQueries]] k1 dense-array
    * idiom): the filter is a bounded, scale-CONSTANT artifact — ≤
    * bits/32 words however large the corpus — so it rides to the driver
    * once as a dense literal array and the probe becomes k O(1)
    * `element_at` lookups folded into one projection: zero joins, zero
    * explode/re-aggregate exchanges (the previous form exploded k rows
    * per probe, broadcast-joined the word table, and re-aggregated —
    * three operators and two aggregate exchanges for a bit test).
    * EAGER-SNAPSHOT semantics, like the k1 CMS probe: the collect runs
    * at DataFrame-construction time, freezing the filter as of now —
    * fine for a bounded artifact probed in the same pass; a long-lived
    * handle over a live segmented filter should re-construct. */
  def bloomProbe(words: DataFrame, probes: DataFrame, valueCol: String,
      bits: Int): DataFrame = {
    val nWords = (bits + 31) / 32
    val dense = new Array[Long](nWords)
    words.select(col("word"), col("bits")).collect().foreach { r =>
      dense(r.getLong(0).toInt) = r.getLong(1)
    }
    val wordsLit = typedlit(dense.toSeq)
    val allSet = (0 until BloomHashes).map { j =>
      val pos = cmsBucket(col(valueCol), j, bits)
      val w = element_at(wordsLit, (pos / 32).cast("int") + 1)
      val m = call_function("shiftleft", lit(1L),
        pmod(pos, lit(32L)).cast("int"))
      w.bitwiseAND(m) === m
    }.reduce(_ && _)
    // coalesce: a NULL probe value nulls every lookup; the join form
    // returned false there (left-join miss), so pin that
    probes.select(col(valueCol), coalesce(allSet, lit(false)).as("hit"))
  }

  /** Fold segment word tables into one filter: word-wise OR. */
  def mergeBloom(segments: DataFrame): DataFrame =
    segments.groupBy(col("word")).agg(expr("bit_or(bits)").as("bits"))

  // ---- persisted artifacts ----------------------------------------------

  val FormatVersion = 1

  /** Persisted CMS cells for the term counts of `corpus`'s text column.
    * Segmented: ingest batches append their own cell tables
    * ([[appendCmsSegment]]) and [[readCms]] folds all segments with the
    * sketch's merge (cell-wise sum). */
  def cmsKey(corpusDir: String, variant: String, width: Int): String =
    s"cms_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_d${CmsDepth}_w$width"

  def ensureCmsSegmented(spark: SparkSession, corpusDir: String,
      termCounts: DataFrame, termCol: String, cntCol: String, variant: String,
      width: Int, artifactRootOverride: Option[String] = None): DataFrame = {
    val raw = ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      cmsKey(corpusDir, variant, width),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => cmsCells(termCounts, termCol, cntCol, width)
        .write.mode("overwrite").parquet(tmp)
    }
    mergeCms(raw)
  }

  def appendCmsSegment(spark: SparkSession, corpusDir: String,
      newTermCounts: DataFrame, termCol: String, cntCol: String,
      variant: String, width: Int,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      cmsKey(corpusDir, variant, width)) {
      tmp => cmsCells(newTermCounts, termCol, cntCol, width)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Fold segment cell tables into one sketch: cell-wise sum. */
  def mergeCms(segments: DataFrame): DataFrame =
    segments.groupBy(col("j"), col("bucket")).agg(sum(col("cnt")).as("cnt"))

  /** Persisted HLL registers; segments merge by cell-wise max. */
  def hllKey(corpusDir: String, variant: String): String =
    s"hll_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_m$HllBuckets"

  def ensureHllSegmented(spark: SparkSession, corpusDir: String,
      values: DataFrame, valueCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val raw = ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      hllKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => hllRegisters(values, valueCol).write.mode("overwrite").parquet(tmp)
    }
    mergeHll(raw)
  }

  def appendHllSegment(spark: SparkSession, corpusDir: String,
      newValues: DataFrame, valueCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      hllKey(corpusDir, variant)) {
      tmp => hllRegisters(newValues, valueCol).write.mode("overwrite").parquet(tmp)
    }

  /** Fold segment register tables into one sketch: cell-wise max. */
  def mergeHll(segments: DataFrame): DataFrame =
    segments.groupBy(col("bucket")).agg(max(col("reg")).as("reg"))

  /** Persisted Bloom words; segments merge by word-wise OR. */
  def bloomKey(corpusDir: String, variant: String, bits: Int): String =
    s"bloom_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_k${BloomHashes}_b$bits"

  def ensureBloomSegmented(spark: SparkSession, corpusDir: String,
      values: DataFrame, valueCol: String, variant: String, bits: Int,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val raw = ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      bloomKey(corpusDir, variant, bits),
      sourceFile = Some(s"$corpusDir/documents.parquet")) {
      tmp => bloomWords(values, valueCol, bits)
        .write.mode("overwrite").parquet(tmp)
    }
    mergeBloom(raw)
  }

  def appendBloomSegment(spark: SparkSession, corpusDir: String,
      newValues: DataFrame, valueCol: String, variant: String, bits: Int,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "sketch")),
      bloomKey(corpusDir, variant, bits)) {
      tmp => bloomWords(newValues, valueCol, bits)
        .write.mode("overwrite").parquet(tmp)
    }
}
