package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.{EvmFunctions => F, TxSender}

/** Throughput of the two crypto Catalyst expressions that sit on the
  * ingest hot path — keccak-256 (F11: address derivation, topic/tx
  * hashing) and secp256k1 ecrecover (F13: sender recovery, once per
  * transaction) — measured through real whole-stage-codegen'd plans over
  * generated per-row inputs (nothing constant-folds: every row hashes
  * different bytes). Prints one JSON line.
  *
  * The bar: [[IngestBench]] sustains ~300 blocks/s ≈ 3k txs/s on this
  * corpus shape, so sender recovery needs ≥3k recoveries/s and hashing
  * a few times that. Run: `sbt "runMain graft.tools.CryptoBench"`.
  */
object CryptoBench {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val nHash = sys.env.getOrElse("SPARK_GRAFT_KECCAK_N", "1000000").toLong
    val nRec = sys.env.getOrElse("SPARK_GRAFT_ECRECOVER_N", "20000").toLong

    def timed(body: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    }

    // 64-byte per-row payloads from codegen'd xxhash64 — scan-free input
    val b8 = unhex(lpad(hex(xxhash64(col("id"))), 16, "0"))
    val payloads = spark.range(nHash)
      .select(concat(Seq.fill(8)(b8): _*).as("payload"))
    payloads.agg(count(lit(1))).collect() // warm the range+concat side
    val hashed = payloads.select(F.keccak256(col("payload")).as("h"))
    def runHash() = hashed.agg(count(col("h"))).collect()(0).getLong(0)
    runHash() // warm: codegen + JIT
    val (hOk, hSecs) = timed(runHash())

    // per-row signing hash (varies), fixed valid (r, s): each row recovers
    // a DIFFERENT public key, so nothing folds and the EC math runs per row
    val r = unhex(lit("b9cb4e655f1c6cc4f61209130f967ee4fe27aef2d8a5506f350c7c5b8dcdd4d2"))
    val sv = unhex(lit("167ab77e1dad0b4a833158789fb7e131b6088b17371e7ab1ae224c61b6801854"))
    val recovered = spark.range(nRec)
      .select(TxSender.ecrecover(F.keccak256(b8), r, sv, lit(0)).as("pub"))
    def runRec() = recovered.agg(count(col("pub"))).collect()(0).getLong(0)
    runRec() // warm
    val (rOk, rSecs) = timed(runRec())

    val hashRate = nHash / hSecs
    val recRate = nRec / rSecs
    println(s"""{"metric":"crypto_throughput","keccak_hashes_per_sec":$hashRate,""" +
      s""""keccak_mb_per_sec":${hashRate * 64 / 1e6},"keccak_rows":$hOk,""" +
      s""""ecrecover_per_sec":$recRate,"ecrecover_rows":$rOk,""" +
      s""""ingest_txs_per_sec_needed":3000}""")
    spark.stop()
  }
}
