package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingOps

/** The rate-source throttle analog ([[StreamingOps.rateThrottledQa]]):
  * the `rate-micro-batch` source is the deterministic form of the
  * `rowsPerSecond` token bucket — every full trigger tick admits
  * EXACTLY `rowsPerBatch` requests — so the observed per-batch
  * admission metric is assertable without wall-clock flake, and the
  * chunk-scorer column HOFs must equal the batch MapReduce pipeline's
  * generator-based scorer doc for doc. */
class RateSourceQaSpec extends SparkSpec {

  test("rate source: per-batch admission metric is exactly the bucket size; scorer equals the batch pipeline") {
    val engine = Engine(chunkSize = 64, overlap = 16, threshold = Some(1),
      question = "spark query join data")
    // size the drain off the corpus so routing is provably even: two
    // requests per document, four full admission buckets
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count().toInt
    val total = 2 * nDocs
    val bucket = total / 4
    val (result, perBatch) = StreamingOps.rateThrottledQa(spark, sf,
      engine.chunkSize, engine.overlap, engine.question.split(" ").toSeq,
      rowsPerBatch = bucket, totalRows = total)

    // throughput contract: every non-empty batch admitted exactly the
    // bucket size (total = 4 full buckets); batches after the bucket
    // drained admit zero — the shape a production throttle exports.
    // perBatch now arrives as a (batch_id, admitted) metrics stream
    // from the QueryProgressEvent listener: batch ids must be the
    // consecutive prefix 0..3 (fresh checkpoint), not just any order.
    val nonEmpty = perBatch.filter(_._2 > 0)
    assert(nonEmpty.map(_._2) == Seq.fill(4)(bucket.toLong),
      s"admission pattern: $perBatch")
    assert(nonEmpty.map(_._1) == Seq(0L, 1L, 2L, 3L),
      s"batch ids not a consecutive prefix: $perBatch")
    assert(perBatch.map(_._2).sum == total.toLong)

    // request accounting: ids 0..total−1 route v % nDocs, so every doc
    // got exactly 2 requests (testdata doc ids are dense 0..n-1)
    val rows = result.collect()
    assert(rows.length == nDocs)
    assert(rows.forall(_.getAs[Long]("n_requests") == 2L),
      s"uneven routing: ${rows.map(_.getAs[Long]("n_requests")).distinct.toSeq}")

    // scorer parity: the streaming column-HOF chunk scorer must equal
    // the batch pipeline's generator-based best_score per document
    val docs = graft.core.Tables.loadSpread(spark, sf, "documents")
    val batch = engine.answers(docs)
      .select(col("doc_id"), col("best_score").as("batch_best"))
    val joined = result.join(batch, "doc_id")
    assert(joined.count() == nDocs, "every doc must appear in both paths")
    val mismatched = joined
      .filter(col("best_score") =!= col("batch_best")).collect()
    assert(mismatched.isEmpty,
      s"scorer divergence: ${mismatched.take(3).mkString(", ")}")

    // every per-document row as the stream computed it with regex tokens
    // and its own copy of the hash-set score formula
    val legacy = LegacyOracles.rateQaScores(docs, engine.chunkSize, engine.overlap,
      engine.question.split(" ").toSeq).collect().sortBy(_.getLong(0)).toSeq
    val now = result.select("doc_id", "token_count", "n_chunks", "best_score")
      .collect().sortBy(_.getLong(0)).toSeq
    assert(now == legacy)
  }
}
