package graft.pipeline

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the text-retrieval artifacts — the keyword counterpart of
  * [[IvfIndex]]/[[LshIndex]]/[[DedupIndex]]: the inverted-index postings
  * `(term, id, tf)`, the postings-derived document lengths `(id, dl)`,
  * and the per-term corpus statistics `(term, df, cf)` (which double as
  * the unigram-LM model: `c = cf`) are INGEST-TIME artifacts. A
  * production pipeline tokenizes each document exactly once as it lands;
  * BM25 / LM-scoring / vocabulary queries then read the stored frames —
  * the full-corpus explode → aggregate never runs at query time (the
  * round-3/4 "weak-by-lifecycle" rule, applied to the last family that
  * violated it).
  *
  * Postings are written partitioned by a term-hash bucket (`__tb`), so a
  * keyword query prunes its scan to the `O(query terms)` buckets that can
  * contain its terms — the local mirror of "partition the 100 TB postings
  * by term": the parquet reader's PartitionFilters drop every other
  * bucket without opening a file. Doc lengths and term stats derive FROM
  * the persisted postings (one bounded aggregate each at build time), so
  * tf / dl / df / cf can never disagree on tokenization.
  *
  * Cache keys carry the corpus, a caller-supplied `variant` tag (the
  * deterministic corpus transformation being indexed, e.g. "the even-id
  * half" for a held-out LM), a format version, and the bucket count;
  * builds stage through a unique per-attempt tmp dir and commit with one
  * atomic rename, exactly like the ANN indexes. The segmented variant
  * appends per-batch postings through [[ArtifactStore]]'s fsynced
  * manifest swap — each micro-batch tokenizes only ITS documents, and
  * df/cf/dl stay correct under union because a document's tokens live
  * entirely in the segment that ingested it.
  */
object PostingsIndex {

  /** Bump when the tokenization, layout, or bucketing changes. */
  val FormatVersion = 1

  /** Term-hash partition count for the postings artifact. Local fixture
    * scale; at 100 TB this is the per-term bucketing the object scaladoc
    * describes (thousands of buckets, each a co-located parquet split). */
  val TermBuckets = 64

  /** Partition bucket of a term — `pmod(xxhash64(term), TermBuckets)`. */
  def termBucket(term: Column): Column =
    pmod(xxhash64(term), lit(TermBuckets.toLong))

  /** Driver-side twin of [[termBucket]] for building the pruning
    * predicate: the same XxHash64 (seed 42, Spark's default) over the
    * same UTF-8 bytes, then the same non-negative mod. */
  def termBucketOf(term: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = new XxHash64(Seq(Literal(term))).eval(null).asInstanceOf[Long]
    ((h % TermBuckets) + TermBuckets) % TermBuckets
  }

  private def baseKey(kind: String, corpusDir: String, variant: String): String =
    s"${kind}_${Paths.get(corpusDir).getFileName}_${variant}_v${FormatVersion}_b$TermBuckets"

  /** Persisted postings `(term, id, tf, __tb)` of `corpus` (which must be
    * a deterministic function of `corpusDir`, tagged by `variant`),
    * partitioned on disk by term bucket. */
  def ensurePostings(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensure(spark, s"$corpusDir/documents.parquet",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "postings")),
      baseKey("post", corpusDir, variant)) { tmp =>
      Retrieval.postings(corpus, idCol, textCol)
        .withColumn("__tb", termBucket(col("term")))
        .write.mode("overwrite").partitionBy("__tb").parquet(tmp)
    }

  /** The matched-postings scan of a keyword query: bucket pruning first
    * (partition filters — only the query terms' buckets are read), exact
    * term match second. */
  def prunedPostings(post: DataFrame, terms: Seq[String]): DataFrame = {
    val ts = terms.distinct
    post.filter(col("__tb").isin(ts.map(termBucketOf): _*) &&
      col("term").isin(ts: _*))
  }

  /** Persisted document lengths `(id, dl)`, derived from the persisted
    * postings (never a second tokenization pass). */
  def ensureDocLengths(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val post = ensurePostings(spark, corpusDir, corpus, idCol, textCol,
      variant, artifactRootOverride)
    ArtifactStore.ensure(spark, s"$corpusDir/documents.parquet",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "postings")),
      baseKey("dl", corpusDir, variant)) { tmp =>
      Retrieval.docLengths(post.select("term", "id", "tf"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** Persisted per-term corpus statistics `(term, df, cf)`, derived from
    * the persisted postings. `df` is the document frequency (postings
    * rows per term), `cf` the collection frequency (total occurrences) —
    * the [[TextAnalysis.vocabStats]] shape, and `(term, cf)` IS the
    * unigram-LM model of [[TextAnalysis.unigramModel]]. */
  def ensureTermStats(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val post = ensurePostings(spark, corpusDir, corpus, idCol, textCol,
      variant, artifactRootOverride)
    ArtifactStore.ensure(spark, s"$corpusDir/documents.parquet",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "postings")),
      baseKey("tstat", corpusDir, variant)) { tmp =>
      post.groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** The persisted unigram-LM model `(term, c)` — a projection of the
    * term stats, so LM scoring and vocabulary mining share one artifact. */
  def ensureUnigramModel(spark: SparkSession, corpusDir: String, corpus: => DataFrame,
      idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ensureTermStats(spark, corpusDir, corpus, idCol, textCol, variant,
      artifactRootOverride)
      .select(col("term"), col("cf").as("c"))

  // ---- incremental maintenance ------------------------------------------

  /** Segmented postings: the streaming-era lifecycle — each ingest batch
    * tokenizes only ITS documents and appends one committed segment
    * (fsynced manifest swap, crash-invisible). Per-term df/cf and
    * per-doc dl aggregate correctly over the union because every
    * document's postings live whole in one segment; base ∪ deltas is
    * row-identical to a full rebuild (spec-pinned). Single writer, like
    * the block store. Segments skip the bucket partitioning (a batch is
    * already bounded); compaction into the bucketed layout is the same
    * background job that compacts the hot block tier. */
  private def segKey(corpusDir: String, variant: String): String =
    s"postseg_${Paths.get(corpusDir).getFileName}_${variant}_v$FormatVersion"

  def ensurePostingsSegmented(spark: SparkSession, corpusDir: String,
      baseDocs: DataFrame, idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame =
    ArtifactStore.ensureSegmented(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "postings")),
      segKey(corpusDir, variant),
      sourceFile = Some(s"$corpusDir/documents.parquet")) { tmp =>
      Retrieval.postings(baseDocs, idCol, textCol)
        .write.mode("overwrite").parquet(tmp)
    }

  /** Append postings for NEW documents to the segmented artifact. */
  def appendPostings(spark: SparkSession, corpusDir: String, newDocs: DataFrame,
      idCol: String, textCol: String, variant: String,
      artifactRootOverride: Option[String] = None): Unit =
    ArtifactStore.appendSegment(spark,
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "postings")),
      segKey(corpusDir, variant)) { tmp =>
      Retrieval.postings(newDocs, idCol, textCol)
        .write.mode("overwrite").parquet(tmp)
    }
}
