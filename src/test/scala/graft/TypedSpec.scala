package graft

import graft.core.{Schemas, TypedPipeline}

class TypedSpec extends SparkSpec {

  test("pipeline stages conform to the typed schemas") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pipe = Engine(threshold = Some(1))
    // .as[T] validates column names/types at analysis time; collect a few
    val m = TypedPipeline.mapResults(pipe.mapped(docs)).head(3)
    assert(m.forall(r => r.token_count > 0 && r.score >= 0))
    val a = TypedPipeline.answers(pipe.answers(docs)).head(3)
    assert(a.forall(r => r.chunks_after <= r.chunks_before))
    val j = TypedPipeline.judged(pipe.judged(docs)).head(3)
    assert(j.forall(r => r.item_number >= 1 && r.item_number <= 5))
  }

  test("typed groupByKey works over the Answer dataset") {
    val sess = spark
    import sess.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pipe = Engine(threshold = Some(1))
    val ds = TypedPipeline.answers(pipe.answers(docs))
    val byAnswered = ds.groupByKey(_.chunks_after > 0)
      .count().collect().toMap
    assert(byAnswered.values.sum == docs.count())
  }

  test("QaRecord round-trips through a typed dataset") {
    val sess = spark
    import sess.implicits._
    import Schemas._
    val rec = QaRecord("APPLE_2022", "Total sales?", "$394B", "income stmt",
      Seq("Total net sales $394,328"), "metrics-generated", "extraction")
    val ds = Seq(rec).toDS()
    assert(ds.collect()(0) == rec)
    assert(ds.schema.fieldNames.toSeq == Seq("doc_name", "question", "answer",
      "justification", "evidence", "question_type", "question_reasoning"))
  }
}
