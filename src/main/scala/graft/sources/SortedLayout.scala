package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ArtifactStore

/** Key-clustered parquet layout for point/range-lookup tables.
  *
  * The reference serves its hottest queries (block by number, tx by hash
  * prefix — reference `app/rest/rest.go` Q1/Q6) from B-tree indexes; a
  * parquet lake has no index, so a point lookup over an unordered table
  * scans EVERY file: at 10M+ rows per table that is the difference
  * between a task and a job. This layout restores the two pruning tiers
  * Spark already knows how to use — it just needs the data written so the
  * statistics are tight:
  *
  *   1. '''directory pruning''' — rows land in `__kb=<bucket>` partition
  *      dirs by `key div span`. A lookup's derived bucket predicate is a
  *      partition filter, so Catalyst prunes non-matching directories at
  *      PLANNING time: the scan's `numFiles` metric counts only the
  *      matching bucket's files, however many buckets the table has.
  *   2. '''row-group pruning''' — within each file rows are sorted by
  *      key, so parquet min/max row-group stats are tight and disjoint;
  *      the pushed key predicate skips every non-matching row group at
  *      READ time (the scan's `numOutputRows` is ~one row group, not one
  *      file).
  *
  * At 100 TB: `span` is the table's partition-size dial — pick it so one
  * bucket is a few files of a few hundred MB (e.g. blocks: span 1M rows
  * ≈ one dir per million block numbers). Lookups touch one dir + one row
  * group regardless of table size; range scans touch ceil(range/span)+1
  * dirs. The span is recorded in a `_graft_layout` sidecar next to the
  * data (written through the Hadoop FileSystem API, so the layout works
  * on HDFS/S3 the same as local disk), which is how readers derive the
  * bucket predicate without the caller re-supplying the span.
  */
object SortedLayout {
  private val LayoutFile = "_graft_layout"

  /** Bump when the layout format or bucketing rule changes. */
  val FormatVersion = 1

  /** The clustered layout as an INGEST-TIME artifact (the
    * [[graft.pipeline.ArtifactStore]] lifecycle: staleness against the
    * source file's mtime, staged build, one atomic commit, concurrent
    * builders race-tolerated). Returns the layout DIRECTORY — reads go
    * through [[pointLookup]]/[[rangeLookup]], which derive the bucket
    * predicate from the sidecar, not through a bare DataFrame. */
  def ensure(spark: SparkSession, sourceFile: String, df: DataFrame,
      key: String, span: Long, rowGroupBytes: Long = 128L << 20,
      bloomCols: Seq[String] = Nil, bloomNdv: Long = 100000L,
      artifactRootOverride: Option[String] = None): String = {
    val root = artifactRootOverride.getOrElse(ArtifactStore.root(spark, "layout"))
    val name = new Path(sourceFile).getName.stripSuffix(".parquet")
    // rowGroupBytes (and the bloom config) are part of the key: they
    // shape the artifact's pruning granularity, so two callers
    // disagreeing on them must not share one
    val bloomK = if (bloomCols.isEmpty) ""
      else s"_b${bloomCols.sorted.mkString("-")}_n$bloomNdv"
    val k = s"${name}_layout_v${FormatVersion}_${key}_s${span}_g$rowGroupBytes$bloomK"
    ArtifactStore.ensure(spark, sourceFile, root, k) { tmp =>
      write(df, tmp, key, span, rowGroupBytes, bloomCols, bloomNdv)
    }
    s"$root/$k"
  }

  /** Exact floor division on a LONG column — `floor(key/span)` through
    * doubles mis-buckets near boundaries once keys exceed 2^53
    * (hash-derived longs do); [[graft.operators.RangeJoin.floorDiv]]
    * runs it in decimal. */
  private def bucketOf(key: Column, span: Long): Column =
    graft.operators.RangeJoin.floorDiv(key, span)

  /** Write `df` clustered by the (integral) `key` column: partition dirs
    * of `span` key values each, key-sorted files within. `rowGroupBytes`
    * sizes parquet row groups (the row-group-pruning granule); the
    * production default 128 MB is right at scale, tests shrink it so a
    * single fixture file has many groups to prune.
    *
    * `bloomCols` names columns to carry parquet BLOOM FILTERS — the
    * pruning tier for the columns min/max stats CANNOT serve: uniformly
    * distributed hashes (block hash, tx hash) span nearly the whole
    * value space in every row group, so a hash-equality lookup survives
    * every stats check and reads the entire table. A per-row-group bloom
    * filter turns that into ~one row group read (false-positive groups
    * aside): parquet-mr consults it for pushed equality predicates at
    * row-group-selection time, no reader changes needed. `bloomNdv`
    * sizes the filter (expected distinct values per row group — set it
    * near rowGroupBytes/rowWidth; oversizing only costs footprint). This
    * is the parquet answer to the reference's hash B-trees (Q1/Q6,
    * query.go:92-100) at 10M+ rows. */
  def write(df: DataFrame, dir: String, key: String, span: Long,
      rowGroupBytes: Long = 128L << 20,
      bloomCols: Seq[String] = Nil, bloomNdv: Long = 100000L): Unit = {
    require(span > 0, "bucket span must be positive")
    val writer = df.withColumn("__kb", bucketOf(col(key), span))
      // one shuffle: co-locate each bucket in one task so each dir gets
      // one key-sorted file per task that holds it (not one per input
      // partition), and sort so row-group stats are tight
      .repartition(col("__kb"))
      .sortWithinPartitions(col("__kb"), col(key))
      .write.partitionBy("__kb")
      .option("parquet.block.size", rowGroupBytes.toString)
    bloomCols.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", bloomNdv.toString)
    }.mode("overwrite").parquet(dir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new Path(dir, LayoutFile)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(s"key=$key\nspan=$span\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private def layout(spark: SparkSession, dir: String): (String, Long) = {
    val p = new Path(dir, LayoutFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    val text = new String(buf, StandardCharsets.UTF_8)
    val kv = text.linesIterator.filter(_.contains('='))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
    (kv("key"), kv("span").toLong)
  }

  /** `key = value` with the derived bucket partition filter. */
  def pointLookup(spark: SparkSession, dir: String, value: Long): DataFrame = {
    val (key, span) = layout(spark, dir)
    val kb = (value - Math.floorMod(value, span)) / span
    graft.RelationCache.parquet(spark, dir)
      .filter(col("__kb") === kb && col(key) === value)
      .drop("__kb")
  }

  /** Equality lookup on a NON-key column (a uniform hash): no bucket
    * predicate exists — the derived-key tier can't help — so pruning is
    * entirely the column's bloom filters (write the layout with the
    * column in `bloomCols`). Every dir is listed, but only bloom-passing
    * row groups are read: ~one group + false positives, independent of
    * table size. */
  def hashLookup(spark: SparkSession, dir: String, hashCol: String,
      value: String): DataFrame =
    graft.RelationCache.parquet(spark, dir)
      .filter(col(hashCol) === value)
      .drop("__kb")

  /** `lo <= key <= hi` touching only the ceil(range/span)+1 covering
    * bucket dirs. */
  def rangeLookup(spark: SparkSession, dir: String, lo: Long, hi: Long): DataFrame = {
    val (key, span) = layout(spark, dir)
    val kbLo = (lo - Math.floorMod(lo, span)) / span
    val kbHi = (hi - Math.floorMod(hi, span)) / span
    graft.RelationCache.parquet(spark, dir)
      .filter(col("__kb").between(kbLo, kbHi)
        && col(key).between(lo, hi))
      .drop("__kb")
  }
}
