package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training (Sennrich et al. 2016,
  * arXiv:1508.07909) — learn the merge table that tokenizers like GPT-2's
  * BPE apply, distributed: the corpus tokenizes once into a (word, freq)
  * frame (vocabulary-sized, NOT corpus-sized — the classic BPE trick),
  * each round counts adjacent symbol pairs weighted by word frequency in
  * one map-side-combined aggregation, picks the argmax, and rewrites the
  * word symbols. Only the k-row merge table and the one argmax row per
  * round ever reach the driver; word frames stay distributed.
  *
  * Determinism contract (what lets a DuckDB oracle replay training
  * bit-for-bit): ties break by (count DESC, pair ASC, binary collation);
  * symbols are a space-joined string `" h e l l o </w> "` with sentinel
  * spaces; a merge applies as TWO sequential literal
  * `replace(" l r ", " lr ")` passes — literal replace scans
  * left-to-right non-overlapping identically in both engines, and the
  * second pass catches the occurrence a consumed shared space hid (a
  * fixed convention; canonical BPE's position-wise merge differs only on
  * `x x x` self-runs, and any fixed convention trains an equally valid
  * vocabulary as long as apply-time uses the same one).
  *
  * At 100 TB: the word frame is the LANGUAGE's word-form distribution —
  * bounded (~10^7 rows) regardless of corpus size; the corpus is touched
  * exactly once by the tokenize-count. Rounds are sequential by nature
  * (each merge depends on the last — same control shape as
  * [[Components.connectedComponents]]' bounded rounds); persist the word
  * frame between rounds and checkpoint every ~50 merges for lineage.
  */
object Bpe {

  /** `(word, freq)` over lowercased a-z tokens — the restricted alphabet
    * keeps merge literals regex- and quote-safe in every replay engine. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(
        regexp_replace(lower(col(textCol)), "[^a-z ]", ""), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Seed symbols: `" w o r d </w> "` — sentinel spaces make every
    * symbol (including the first and last) match `" l r "` literally. */
  private def seedSymbols(word: org.apache.spark.sql.Column) =
    concat(lit(" "), regexp_replace(word, "(.)", "$1 "), lit("</w> "))

  /** One learned merge. */
  final case class Merge(round: Int, left: String, right: String, cnt: Long)

  /** Train `rounds` merges. Returns the merge table in learn order —
    * rows (round, left, right, cnt); stops early when no pair occurs
    * twice. The per-round argmax is a driver-side single-row collect
    * (control plane, O(rounds) rows total). */
  def train(spark: SparkSession, docs: DataFrame, textCol: String,
      rounds: Int): Seq[Merge] = {
    var words = wordFreqs(docs, textCol)
      .select(col("freq"), seedSymbols(col("word")).as("symbols"))
    words.persist()
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val arr = split(trim(col("symbols")), " ")
      val top = words
        .select(col("freq"), explode(zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, concat(col("l"), lit(" "), col("r")).asc)
        .limit(1)
        .collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < 2) done = true
      else {
        val l = top.head.getAs[String]("l")
        val rr = top.head.getAs[String]("r")
        merges += Merge(r, l, rr, top.head.getAs[Long]("cnt"))
        val pat = lit(s" $l $rr ")
        val rep = lit(s" $l$rr ")
        val next = words.select(col("freq"),
          call_function("replace",
            call_function("replace", col("symbols"), pat, rep),
            pat, rep).as("symbols"))
        next.persist()
        next.count() // materialize BEFORE dropping the parent's cache —
        words.unpersist() // else every round recomputes the whole lineage
        words = next
        r += 1
      }
    }
    words.unpersist()
    merges.result()
  }

  /** [[train]] as a DataFrame for the gate registry. */
  def trainDF(spark: SparkSession, docs: DataFrame, textCol: String,
      rounds: Int): DataFrame = {
    import spark.implicits._
    train(spark, docs, textCol, rounds)
      .toDF("round", "left", "right", "cnt")
      .select(col("round"), col("left"), col("right"), col("cnt"))
  }

  // ---- persisted merge table --------------------------------------------
  //
  // Training is a MAINTENANCE job, not a query: the merge table is the
  // vocabulary every downstream tokenize applies, so it follows the
  // ingest-artifact lifecycle (parameter-keyed, built once per corpus,
  // atomic-commit via ArtifactStore) exactly like a postings list or an
  // IVF codebook. Segmented appends deliberately do NOT apply — a merge
  // table is not a union of per-batch tables (round i depends on the
  // whole corpus after rounds 1..i-1); new data means retraining, which
  // the source-mtime staleness check forces.

  /** Bump when the training convention or artifact layout changes. */
  val FormatVersion = 1

  /** Read the persisted merge table `(round, left, right, cnt)` for the
    * corpus at `corpusDir`, training it first if missing or stale.
    * `variant` tags the training slice ([[graft.pipeline.DedupIndex]]
    * convention); `rounds` is part of the key — a vocabulary trained to
    * a different size is a different artifact, never a silent reuse. */
  def ensureMerges(spark: SparkSession, corpusDir: String, docs: => DataFrame,
      textCol: String, rounds: Int, variant: String,
      artifactRootOverride: Option[String] = None): DataFrame = {
    val corpus = java.nio.file.Paths.get(corpusDir).getFileName.toString
    val key = s"bpe_${corpus}_${variant}_v${FormatVersion}_r$rounds"
    ArtifactStore.ensure(spark, s"$corpusDir/documents.parquet",
      artifactRootOverride.getOrElse(ArtifactStore.root(spark, "bpe")), key) { tmp =>
      trainDF(spark, docs, textCol, rounds)
        .coalesce(1) // ≤ rounds rows — one small file
        .write.mode("overwrite").parquet(tmp)
    }
  }

  /** The persisted frame back as the in-order merge table [[tokenize]]
    * applies. The collect is control-plane: ≤ rounds rows — the merge
    * table is vocabulary metadata, like a broadcast codebook. */
  def mergesOf(persisted: DataFrame): Seq[Merge] =
    persisted.orderBy(col("round")).collect().toSeq.map(r => Merge(
      r.getAs[Int]("round"), r.getAs[String]("left"),
      r.getAs[String]("right"), r.getAs[Long]("cnt")))

  /** Apply a learned merge table to text — the tokenize half: same
    * seeding, same two-pass literal replace per merge IN LEARN ORDER,
    * then the symbols split into final tokens. Distributed per-row
    * column work; the merge table rides along as literals. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val words = docs.select(col(idCol),
      explode(split(regexp_replace(lower(col(textCol)), "[^a-z ]", ""), " ")).as("word"))
      .filter(col("word") =!= "")
    val merged = merges.foldLeft(seedSymbols(col("word"))) { (sym, m) =>
      val pat = lit(s" ${m.left} ${m.right} ")
      val rep = lit(s" ${m.left}${m.right} ")
      call_function("replace", call_function("replace", sym, pat, rep), pat, rep)
    }
    words.select(col(idCol), col("word"),
      split(trim(merged), " ").as("tokens"))
  }
}
