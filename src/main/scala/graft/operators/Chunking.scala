package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Document chunking for training-data pipelines: split each document into
  * overlapping word windows — the standard pre-embedding / pre-tokenization
  * step when documents exceed a model's context size.
  *
  * 100 TB shape: pure column expressions (split → sequence → explode →
  * slice → join), fully inside whole-stage codegen, no UDFs and no
  * shuffle — chunking is embarrassingly parallel per document, the row
  * count grows by the chunk factor and Catalyst handles the explode. The
  * definition is engine-portable (reproduced in ANSI SQL for the DuckDB
  * oracle — q_chunk_documents).
  */
object Chunking {

  /** Explode each document into word-window chunks.
    *
    * @param chunkWords   window size in whitespace words
    * @param overlapWords words shared between consecutive chunks
    * @return one row per chunk: id column, chunk_id (0-based), chunk_text,
    *         n_words (words in this chunk)
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int = 256,
      overlapWords: Int = 32
  ): DataFrame = {
    require(chunkWords > overlapWords && overlapWords >= 0,
      "need chunkWords > overlapWords >= 0")
    val step = chunkWords - overlapWords
    // split of an empty trimmed string yields [""], not [] — filter the
    // empty element so an empty/whitespace-only doc counts 0 words (its
    // single chunk row then honestly reports n_words = 0)
    val words = F.filter(F.split(F.trim(F.col(textCol)), "\\s+"), w => F.length(w) > 0)
    val nWords = F.size(words)
    // number of windows covering nWords with the given stride: every word
    // index must start inside some window → ceil((n - overlap) / step),
    // minimum 1 (an empty doc still yields one empty chunk row)
    val nChunks = F.greatest(
      F.ceil((nWords - F.lit(overlapWords)).cast("double") / F.lit(step)).cast("int"),
      F.lit(1))
    df.select(F.col(idCol), words.as("__words"), nChunks.as("__n"))
      .select(F.col(idCol),
        F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).as("chunk_id"),
        F.col("__words"))
      .select(
        F.col(idCol),
        F.col("chunk_id"),
        F.array_join(
          F.slice(F.col("__words"), F.col("chunk_id") * step + 1, F.lit(chunkWords)),
          " ").as("chunk_text"),
        F.size(F.slice(F.col("__words"), F.col("chunk_id") * step + 1, F.lit(chunkWords)))
          .as("n_words"))
  }
}
