package graft.etl

import org.apache.spark.sql.types._

/** Declared schemas of the curation streams: the corpus, vector and
  * serving drop-directories. The SportsTV schemas stay in [[Schemas]]. */
object CorpusSchemas {

  /** Document stream for corpus ingest (the `documents` testdata shape). */
  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Embedding stream for vector ingest (the `embeddings` testdata shape). */
  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Hybrid retrieval request stream ([[graft.streaming.QueryServe]]):
    * text AND vector representation of the same request, in the
    * caller's own id space. */
  val queryRequests: StructType = StructType(Seq(
    StructField("query_id", LongType),
    StructField("query_text", StringType),
    StructField("embedding", ArrayType(FloatType))))
}
