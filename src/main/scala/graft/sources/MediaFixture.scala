package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.ArtifactStore

/** Materializes a corpus-derived MEDIA DIRECTORY for the
  * [[MediaSource]] scan path — the test/registry analog of a media
  * crawl landing objects on shared storage. One `.ivf` file per
  * document (payload from the deterministic [[graft.pipeline.Vp9Ivf]]
  * generator, seeded by doc_id), written DISTRIBUTED: each task writes
  * its partition's files, the driver only coordinates the
  * [[ArtifactStore.ensureDir]] lifecycle (staleness vs the corpus,
  * staging + one atomic rename, provenance marker). In local mode the
  * staging dir is trivially shared; on a cluster this is the
  * shared-FS/object-store landing zone every media pipeline already
  * has.
  */
object MediaFixture {

  /** doc_id → stable file name; zero-padded so path order = id order. */
  def fileName(docId: Long): String = f"doc_$docId%012d.ivf"

  /** doc_id → stable animated-GIF file name. */
  def gifName(docId: Long): String = f"doc_$docId%012d.gif"

  /** Ensure the per-document ANIMATED-GIF file tree for `corpusDir`
    * exists and is fresh; returns its committed path. Same distributed
    * write + atomic-commit lifecycle as [[ensureVp9Dir]]; payloads are
    * the closed-form [[graft.pipeline.GifAnim.generate]] clips, so a
    * scan of this tree is oracle-replayable from doc_id alone. */
  def ensureGifAnimDir(spark: SparkSession, corpusDir: String,
      docs: DataFrame): String =
    ArtifactStore.ensureDir(s"$corpusDir/documents.parquet",
      ArtifactStore.root(spark, "media"),
      s"gifanim_${java.nio.file.Paths.get(corpusDir).getFileName}_v1") { staging =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      import org.apache.spark.sql.functions.col
      docs.select(col("doc_id").cast("long")).repartition(32)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging, gifName(id)),
              graft.pipeline.GifAnim.generate(id, 1, 0))
          }
        }
    }

  /** doc_id → stable codec-blind AV capture file name: even ids stay
    * IVF, odd ids are the [[graft.pipeline.StructFingerprint.ivfToMp4]]
    * re-mux of the same capture — so ONE scan of the tree exercises
    * both container walks. */
  def structName(docId: Long): String =
    if (docId % 2 == 0) f"doc_$docId%012d.ivf" else f"doc_$docId%012d.mp4"

  /** Ensure the mixed IVF/MP4 structural-AV file tree for `corpusDir`
    * exists and is fresh; same distributed write + atomic-commit
    * lifecycle as [[ensureGifAnimDir]]. Payloads are the closed-form
    * [[graft.pipeline.StructFingerprint.generate]] captures (odd ids
    * re-muxed to MP4), so a scan is oracle-replayable from doc_id. */
  def ensureStructAvDir(spark: SparkSession, corpusDir: String,
      docs: DataFrame): String =
    ArtifactStore.ensureDir(s"$corpusDir/documents.parquet",
      ArtifactStore.root(spark, "media"),
      s"structav_${java.nio.file.Paths.get(corpusDir).getFileName}_v1") { staging =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      import org.apache.spark.sql.functions.col
      docs.select(col("doc_id").cast("long")).repartition(32)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val id = r.getLong(0)
            val ivf = graft.pipeline.StructFingerprint.generate(id, 1, 1, 0)
            val bytes =
              if (id % 2 == 0) ivf
              else graft.pipeline.StructFingerprint.ivfToMp4(ivf)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging, structName(id)), bytes)
          }
        }
    }

  /** Ensure the per-document VP9 file tree for `corpusDir` exists and
    * is fresh; returns its committed path. `docs` must carry `doc_id`
    * and be a deterministic function of the corpus. */
  def ensureVp9Dir(spark: SparkSession, corpusDir: String,
      docs: DataFrame): String =
    ArtifactStore.ensureDir(s"$corpusDir/documents.parquet",
      ArtifactStore.root(spark, "media"),
      s"vp9_${java.nio.file.Paths.get(corpusDir).getFileName}_v1") { staging =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
      import org.apache.spark.sql.functions.col
      docs.select(col("doc_id").cast("long")).repartition(32)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val id = r.getLong(0)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(staging, fileName(id)),
              graft.pipeline.Vp9Ivf.generate(id))
          }
        }
    }
}
