package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.ops.MinHashLSH
import graft.streaming.LshBucketProcessor
import graft.streaming.LshBucketProcessor.BandHit

/** Streaming MinHash-LSH near-dup: the incremental per-bucket pair
  * emission must land on exactly the batch arm's candidate-pair set —
  * C(final bucket membership, 2) per (band, sig) bucket — under any
  * file→batch pacing, with each unordered pair emitted exactly once
  * per bucket.
  */
class StreamingNearDupSuite extends SparkSpec {
  import spark.implicits._

  test("bucket membership arriving across batches emits each pair exactly once") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = input.toDF().toDF("bucket", "docId").as[BandHit]
      .groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF()
      .writeStream.format("memory").queryName("nd_pairs")
      .outputMode("update").start()
    try {
      // bucket A fills over three batches (1 | 2,3 | 4); bucket B over
      // two; a redelivered member (A,2) must add nothing
      input.addData(("A", 1L))
      q.processAllAvailable()
      input.addData(("A", 2L), ("A", 3L), ("B", 10L))
      q.processAllAvailable()
      input.addData(("A", 4L), ("A", 2L), ("B", 11L))
      q.processAllAvailable()
      val got = spark.table("nd_pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val expected = (for {
        a <- Seq(1L, 2L, 3L, 4L); b <- Seq(1L, 2L, 3L, 4L) if a < b
      } yield (a, b)) :+ ((10L, 11L))
      assert(got.sorted === expected.sorted,
        "emission union must be C(membership,2) per bucket with no " +
          "duplicate emissions (PK-upsert idempotence is for REPLAY, " +
          "not steady-state)")
    } finally q.stop()
  }

  test("streamed signature+bucket pipeline equals the batch candidatePairs set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy cat today"),
      (4L, "completely different text about spark catalyst planning"),
      (5L, "completely different text about spark catalyst planning"),
      (6L, "short one"), // < shingleK tokens: excluded by both arms
      (7L, "yet another unrelated document mentioning flink runtime details"))
    val batchDf = docs.toDF("doc_id", "text")
    val expected = MinHashLSH.candidatePairs(batchDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(expected.nonEmpty, "fixture must produce at least one pair")

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val hits = MinHashLSH.signatures(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        shingleK = 3, perms = 16, bands = 4)
      .select(concat_ws("|", col("band"), col("sig")).as("bucket"),
        col("doc_id").as("docId")).as[BandHit]
    val q = hits.groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(),
        TimeMode.None(), OutputMode.Update())
      .toDF()
      .writeStream.format("memory").queryName("nd_e2e")
      .outputMode("update").start()
    try {
      // pace one / three / rest so buckets straddle batch boundaries
      input.addData(docs.take(1))
      q.processAllAvailable()
      input.addData(docs.slice(1, 4))
      q.processAllAvailable()
      input.addData(docs.drop(4))
      q.processAllAvailable()
      // distinct: a pair colliding in several bands is emitted once per
      // band-bucket; the e2e LWW sink collapses those by PK, the batch
      // arm by distinct() — mirror that here
      val got = spark.table("nd_e2e")
        .select("doc_a", "doc_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got === expected,
        "streaming arm must produce exactly the batch candidate-pair set")
    } finally q.stop()
  }
}
