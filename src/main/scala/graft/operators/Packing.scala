package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Barrier
import graft.sql.Geo

/** Training-sequence packing: assign each document to a fixed-budget
  * training sequence (the standard pre-tokenization packing pass).
  *
  * Documents are sharded (`idCol % shards`) and packed in deterministic id
  * order within each shard: a document goes to pack floor(tokens-before /
  * budget). Fixed-boundary packing — deterministic, one window pass, no
  * driver state. The shard dimension is what makes it scale: the running
  * sum is per-shard, so no single reducer ever sees the whole corpus
  * (shards ≈ executor count keeps windows parallel and pack sizes exact
  * within each shard). */
object Packing {

  /** Adds `tokens` (whitespace token count of `textCol`), `pack_id`
    * (globally unique: shard * 2^40 + bin), and `pack_offset` (token
    * offset of this document inside its pack). */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    budget: Long, shards: Int = 64): DataFrame = {
    require(budget > 0 && shards > 0)
    Geo.register(df.sparkSession)
    val w = Window.partitionBy(col("__shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df
      .withColumn("tokens", call_function("token_count", col(textCol)).cast("long"))
      .withColumn("__shard", pmod(col(idCol), lit(shards.toLong)))
      .withColumn("__before", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .withColumn("pack_id",
        col("__shard") * lit(1L << 40) + floor(col("__before") / lit(budget)).cast("long"))
      .withColumn("pack_offset", pmod(col("__before"), lit(budget)))
      .drop("__shard", "__before")
  }

  /** Context-window chunking — the complement of [[packSequences]]: split
    * each LONG document into consecutive chunks of at most `maxTokens`
    * whitespace tokens. PINNED semantics: tokens are the non-empty
    * single-space splits of `textCol` (chunk text is therefore
    * whitespace-normalized — document this to consumers); chunk i holds
    * tokens [i·maxTokens, (i+1)·maxTokens); empty/whitespace-only
    * documents emit NO chunks. Entirely codegen'd built-ins
    * (split → transform/slice → posexplode), map-side only — no shuffle,
    * no UDF. Emits (all input columns, chunk_idx, chunk_text, n_tokens). */
  def chunkText(df: DataFrame, textCol: String, maxTokens: Int): DataFrame = {
    require(maxTokens > 0)
    val reserved = Seq("chunk_idx", "chunk_text", "n_tokens", "__toks", "__n")
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"input columns ${clash.mkString(",")} collide with chunkText outputs")
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    // the barrier keeps the split+filter chain out of the filter
    Barrier(df
        .withColumn("__toks", toks)
        .withColumn("__n", size(col("__toks"))))
      .where(col("__n") > 0)
      .select(col("*"), posexplode(expr(
        s"transform(sequence(0, CAST(ceil(__n / $maxTokens.0D) AS INT) - 1), " +
          s"i -> array_join(slice(__toks, i * $maxTokens + 1, $maxTokens), ' '))"))
        .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("n_tokens",
        least(lit(maxTokens), col("__n") - col("chunk_idx") * maxTokens))
      .drop("__toks", "__n")
  }
}
