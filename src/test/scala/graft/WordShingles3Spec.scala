package graft

import org.apache.spark.sql.functions._
import graft.plans.GraftExtensions

/** Parity lock for the codegen'd `word_shingles3` expression against
  * the builtin interpreted formulation it replaced in the d02/d04
  * index builds (element order matters — downstream hashing and
  * explode must see identical arrays).
  */
class WordShingles3Spec extends SparkSpecBase {

  test("word_shingles3 matches the builtin chain on real documents") {
    GraftExtensions.register(spark)
    val diff = spark.read.parquet(s"$sf/documents.parquet")
      .select(
        call_function("word_shingles3", col("text")).as("x"),
        Builtins.shinglesBuiltin(col("text")).as("f"))
      .where(!(col("x") <=> col("f"))) // null-safe: a NULL divergence must count
      .count()
    assert(diff === 0L)
  }

  test("shingle_hash60 = hash60_arr(word_shingles3(text)) on real documents (r19 fusion parity)") {
    GraftExtensions.register(spark)
    val diff = spark.read.parquet(s"$sf/documents.parquet")
      .select(
        call_function("shingle_hash60", col("text")).as("x"),
        call_function("hash60_arr",
          call_function("word_shingles3", col("text"))).as("f"))
      .where(!(col("x") <=> col("f")))
      .count()
    assert(diff === 0L)
  }

  test("shingle_hash60 edge cases match the two-kernel chain") {
    GraftExtensions.register(spark)
    import spark.implicits._
    // consecutive/leading/trailing spaces (empty tokens), multi-byte
    // UTF-8, short texts, the empty string, duplicate windows
    val texts = Seq("", " ", "  ", "a", "a b", "a b c", "a  b c",
      " a b c ", "é 世 界 mixed", "x y x y x y", "a b c d e")
    val diff = texts.toDF("t")
      .select(
        call_function("shingle_hash60", col("t")).as("x"),
        call_function("hash60_arr",
          call_function("word_shingles3", col("t"))).as("f"))
      .where(!(col("x") <=> col("f")))
      .count()
    assert(diff === 0L)
  }

  test("word_shingles3 on hand-computed cases") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val got = Seq("a b c d", "a b", "x y x y x y")
      .toDF("t")
      .select(call_function("word_shingles3", col("t")))
      .collect().map(_.getSeq[String](0).toList)
    assert(got(0) === List("a b c", "b c d"))
    assert(got(1) === List())
    // duplicates collapse to first occurrence: windows are
    // "x y x","y x y","x y x","y x y" -> distinct keeps 2
    assert(got(2) === List("x y x", "y x y"))
  }
}
