package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.{BlockStore, PackedBlocks}
import graft.streaming.{IngestJob, Publisher}

/** Ingest throughput measurement against the reference's only published
  * performance number: 4,242 blocks in 3m2.487s ≈ 23.3 blocks/s
  * historical sync (`BASELINE.md`, reference README:162-169).
  *
  * Drives the FULL write path — in-batch dedup → crash-safe hot tier →
  * publish-once gating + ordered notification materialization →
  * confirmation-watermark promotion into the bucketed confirmed tier —
  * over the committed packed corpus in reference-sized micro-batches,
  * and prints one JSON line with blocks/s.
  *
  * The reference's number includes chain-node RPC latency (its
  * bottleneck, ConcurrencyFactor=5); ours starts from fetched packed
  * blocks, so the comparison is store-and-publish throughput — the part
  * this engine replaces. Run: `sbt "runMain graft.tools.IngestBench"`.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val src = sys.env.getOrElse("SPARK_GRAFT_PACKED",
      "/root/repo/fixtures/evm/packed_blocks.parquet")
    val batchBlocks = sys.env.getOrElse("SPARK_GRAFT_BATCH", "500").toLong

    val packed = PackedBlocks.readBatch(spark, src)
      .withColumn("__num", col("block.number")).cache()
    val total = packed.count()

    val root = java.nio.file.Files.createTempDirectory("ingest-bench-").toString
    val store = new BlockStore(spark, root, bucketSize = 1000)
    var published = 0L
    val job = new IngestJob(spark, store, confirmations = 6,
      onPublish = df => published += Publisher.messages(df).count())

    val lo = packed.agg(min(col("__num"))).collect()(0).getLong(0)
    val hi = packed.agg(max(col("__num"))).collect()(0).getLong(0)

    val t0 = System.nanoTime()
    var start = lo
    var batchId = 0L
    while (start <= hi) {
      val batch = packed.filter(col("__num").between(start, start + batchBlocks - 1))
        .drop("__num")
      job.processBatch(batch, batchId)
      start += batchBlocks
      batchId += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9

    val confirmed = store.confirmed("blocks").count()
    val rate = total / secs
    println(s"""{"metric":"ingest_blocks_per_sec","value":$rate,"unit":"blocks/s","blocks":$total,"batches":$batchId,"seconds":$secs,"confirmed":$confirmed,"messages":$published,"baseline_blocks_per_sec":23.3}""")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    spark.stop()
  }
}
