package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** [[RelationCache]] — the session-scoped resolved-relation memo behind
  * [[Tables.load]] and [[pipeline.ArtifactStore]] reads. The contract
  * under test: repeated reads of an UNCHANGED path reuse one resolved
  * plan (no re-listing), while a path whose mtime moved (regenerated
  * fixture, rebuilt artifact) re-resolves — a stale listing would read
  * deleted files or miss new ones. */
class RelationCacheSpec extends SparkSpec {

  test("unchanged path returns the same resolved relation instance") {
    val dir = Files.createTempDirectory("graft-relcache")
    val p = dir.resolve("t.parquet").toString
    spark.range(10).write.mode("overwrite").parquet(p)
    val a = RelationCache.parquet(spark, p)
    val b = RelationCache.parquet(spark, p)
    assert(a eq b, "same (path, mtime) must memo-hit")
    assert(a.count() === 10)
  }

  test("regenerated path (new mtime) re-resolves and sees the new data") {
    val dir = Files.createTempDirectory("graft-relcache")
    val p = dir.resolve("t.parquet").toString
    spark.range(10).write.mode("overwrite").parquet(p)
    assert(RelationCache.parquet(spark, p).count() === 10)
    spark.range(25).write.mode("overwrite").parquet(p)
    // the overwrite rewrote the directory: its mtime moved, so the memo
    // key changes and the read resolves the NEW file set
    java.nio.file.Files.setLastModifiedTime(java.nio.file.Paths.get(p),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 2000))
    assert(RelationCache.parquet(spark, p).count() === 25)
  }

  test("a part file rewritten in place keeps the directory mtime: the memo still hits") {
    // the documented staleness rule: the key stamps only the top-level
    // paths' mtimes, so an in-place rewrite below them is not seen
    val dir = Files.createTempDirectory("graft-relcache")
    val p = dir.resolve("t.parquet")
    spark.range(10).write.parquet(p.toString)
    val a = RelationCache.parquet(spark, p.toString)
    val dirMtime = Files.getLastModifiedTime(p)
    val part = Files.list(p).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.write(part, Files.readAllBytes(part))
    Files.setLastModifiedTime(part,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(Files.getLastModifiedTime(p) === dirMtime)
    assert(RelationCache.parquet(spark, p.toString) eq a)
  }

  test("missing path bypasses the memo and throws like a plain read") {
    val gone = "/tmp/graft-relcache-definitely-missing.parquet"
    intercept[Exception] { RelationCache.parquet(spark, gone).count() }
  }

  test("multi-path key: a changed path list resolves separately") {
    val dir = Files.createTempDirectory("graft-relcache")
    val p1 = dir.resolve("a.parquet").toString
    val p2 = dir.resolve("b.parquet").toString
    spark.range(3).write.parquet(p1)
    spark.range(4).write.parquet(p2)
    assert(RelationCache.parquet(spark, p1).count() === 3)
    assert(RelationCache.parquet(spark, p1, p2).count() === 7)
  }

  test("Tables.load memo-hits across repeated calls on the fixture") {
    val a = Tables.documents(spark, sf0001)
    val b = Tables.documents(spark, sf0001)
    assert(a eq b)
    assert(a.select(col("doc_id")).count() === b.select(col("doc_id")).count())
  }
}
