package graft.sources

import graft.SparkSpec

/** A partition whose rows sit only in a compaction trash directory — the
  * state a compactor that crashed between its two renames leaves behind
  * — must fail [[SourcesOps.readConsistent]] loudly once the wait budget
  * is spent, never come back as a short frame. The next
  * `compactPartitions` heals the trash, after which the read is whole. */
class ReadConsistentSpec extends SparkSpec {

  test("a partition left only in compaction trash fails the read loudly, then heals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_read_consistent").toString + "/sink"
    (0L until 100L).map(i => (i, if (i % 2 == 0) "a" else "x")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    java.nio.file.Files.move(java.nio.file.Paths.get(dir, "k=x"),
      java.nio.file.Paths.get(dir, ".compact_trash_k=x"))

    val err = intercept[java.io.FileNotFoundException] {
      SourcesOps.readConsistent(spark, dir, maxWaitMs = 200).count()
    }
    assert(SourcesOps.isFnf(err))
    assert(err.getMessage.contains("k=x"), err.getMessage)

    SourcesOps.compactPartitions(spark, dir)
    assert(SourcesOps.readConsistent(spark, dir, maxWaitMs = 200).count() == 100L)
  }
}
