package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextAnalysis}

/** The interpreted builtin formulations that codegen'd kernels
  * replaced, kept as the parity anchors the kernel specs compare
  * against. No query runs them; each names the spec that does.
  */
object Builtins {

  /** [[graft.operators.Dedup.shingles]] before `word_shingles3`
    * (`WordShingles3Spec`).
    */
  def shinglesBuiltin(text: Column): Column = {
    val toks = split(text, " ")
    array_distinct(
      when(size(toks) >= 3,
        transform(sequence(lit(0), size(toks) - 3), i =>
          concat_ws(" ",
            element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
        .otherwise(array().cast("array<string>")))
  }

  /** [[TextAnalysis.repSignals]] before `rep_stats`: two keyed exchanges
    * over ≤ 3 gram rows per token (`CurationSpec`).
    */
  def repSignalsBuiltin(spark: SparkSession, rel: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val grams = rel
      .select(col("doc_id"), graft.functions.Portable.hash60Array(TextAnalysis.lmToks).as("th"))
      .select(col("doc_id"), size(col("th")).cast("long").as("n_tokens"),
        explode(concat(Seq(2, 3, 5).map(n =>
          call_function("gram_keys", col("th"), lit(n))): _*)).as("g"))
    val per = grams
      .groupBy(col("doc_id"), col("n_tokens"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n_tokens"), shiftright(col("g"), 60).as("n"))
      .agg(sum(col("c")).as("n_pos"), max(col("c")).as("top_cnt"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_pos"))
    def frac(num: Column, den: Column): Column =
      num.cast("double") / den.cast("double")
    per.groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        max(when(col("n") === 2, frac(col("top_cnt"), col("n_pos")))).as("top2_frac"),
        max(when(col("n") === 3, frac(col("top_cnt"), col("n_pos")))).as("top3_frac"),
        max(when(col("n") === 5, frac(col("dup_pos"), col("n_pos")))).as("dup5_frac"))
      .withColumn("rep_keep",
        col("top2_frac") <= TextAnalysis.RepTop2Max &&
          col("top3_frac") <= TextAnalysis.RepTop3Max &&
          col("dup5_frac") <= TextAnalysis.RepDup5Max)
  }

  /** [[TextAnalysis.entropyOf]] before `char_counts`: one exploded row
    * per character (`CurationSpec`).
    */
  def entropyOfBuiltin(docs: DataFrame): DataFrame = {
    val counts = docs
      .where(length(col("text")) > 0)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, length(text) - 1)," +
          " i -> substring(text, i + 1, 1))")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    counts.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n"), col("n_distinct"),
        (col("c") * (floor(log(col("n").cast("double")) * 1000).cast("long") -
          floor(log(col("c").cast("double")) * 1000).cast("long"))).as("t"))
      .groupBy(col("doc_id"), col("n"), col("n_distinct"))
      .agg(sum(col("t")).as("tsum"))
      .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
        expr("tsum div n").as("ent_mn"))
  }

  /** [[Multimodal.peakPairs]] before `peak_pairs`: the four-deep HOF
    * formulation (`MultimodalSpec`).
    */
  def peakPairsBuiltin(peaks: Column): Column = flatten(
    transform(peaks, (p, i) =>
      filter(
        transform(sequence(lit(1), lit(Multimodal.FpFanout)), d =>
          when(i + d <= size(peaks) - 1,
            struct(i.cast("long").as("f"),
              (p * 131072L + element_at(peaks, i + d + 1) * 4L +
                d.cast("long")).as("hkey")))),
        s => s.isNotNull)))

  /** [[Multimodal.binCounts]] before `nibble_hist`: a hex round-trip and
    * one exploded row per byte (`MultimodalSpec`). The byte decode runs
    * once per row: computed inside a per-bin lambda instead,
    * CollapseProject re-inlines it into every bin and the O(n) conv pass
    * runs 16×+ per body (22 s at sf0.1).
    */
  def binCountsBuiltin(df: DataFrame, body: String, as: String): DataFrame =
    df.withColumn("hx", hex(col(body)))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, octet_length($body) - 1), i ->
              cast(conv(substr(hx, 2*i + 1, 2), 16, 10) as bigint) div 16)""")).as("bin"))
      .groupBy(col("doc_id"), col("bin"))
      .agg(count(lit(1)).as(as))

  /** st35's lexical leg before `hybrid_lex`: nested interpreted HOF
    * folds emitting array<struct<query_id, lex_micro, n_match>>
    * (`StreamingSpec`).
    */
  def hybridLexBuiltin(text: Column, qarr: Column, numQueries: Int): Column = {
    val toks = split(text, " ")
    val dlC = size(toks).cast("long")
    val perTerm = transform(qarr, e2 =>
      struct(e2.getField("query_id").as("query_id"),
        size(filter(toks, t => t === e2.getField("token"))).cast("long").as("tf"),
        e2.getField("idf_micro").as("idf_micro"),
        e2.getField("avgdl").as("avgdl")))
    transform(
      sequence(lit(0L), lit((numQueries - 1).toLong)), q =>
        struct(q.as("query_id"),
          aggregate(filter(perTerm, p => p.getField("query_id") === q),
            lit(0L), (acc, p) => acc + TextAnalysis.bm25SMicro(p.getField("tf"), dlC,
              p.getField("idf_micro"), p.getField("avgdl"))).as("lex_micro"),
          aggregate(filter(perTerm, p => p.getField("query_id") === q),
            lit(0L), (acc, p) =>
              acc + when(p.getField("tf") >= 1, lit(1L)).otherwise(lit(0L)))
            .as("n_match")))
  }
}
