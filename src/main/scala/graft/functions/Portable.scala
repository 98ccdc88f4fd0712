package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing, shared by the dedup /
  * similarity / fingerprint operators and their DuckDB oracles.
  *
  * Spark's `hash`/`xxhash64` and DuckDB's `hash` are different
  * algorithms, so differential checks need a hash both engines compute
  * identically. md5 is: both produce the same lowercase hex over UTF-8
  * bytes. The first 15 hex chars (60 bits) parse into a non-negative
  * BIGINT on both sides:
  *
  *   Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  *   DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
  *
  * All expressions here are built-in Catalyst functions — codegen'd,
  * no UDFs, fully distributed.
  */
object Portable {

  /** 60-bit non-negative hash of a string column. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** [[hash60]] over every element of a string-array column in one
    * codegen'd pass ([[Hash60Array]] — bit-identical values, ~none of
    * the interpreted per-element hex round-trip cost). Requires
    * [[graft.plans.GraftExtensions]] registration on the session.
    */
  def hash60Array(c: Column): Column = call_function("hash60_arr", c)

  /** SQL fragment computing [[hash60]] in DuckDB. `s` is a SQL expr. */
  def duckHash60(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  /** Fixed 60-bit xor mixers: a cheap portable hash family over an
    * already-hashed value (`h ⊕ seedᵢ`). One md5 per input + k xors
    * replaces k md5 passes — the min-wise quality loss is acceptable
    * for LSH candidate generation because candidates are re-verified
    * with the exact measure. Seeds are the md5-derived 60-bit values of
    * `"graft-minhash-<i>"`, materialized as literals so Spark and
    * DuckDB share them exactly.
    */
  val xorSeeds: IndexedSeq[Long] = (0 until 16).map { i =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"graft-minhash-$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** `h ⊕ seedᵢ` over a hashed column. */
  def xorMix(i: Int, h: Column): Column = h.bitwiseXOR(lit(xorSeeds(i)))

  /** DuckDB twin of [[xorMix]]. `h` is a SQL expr yielding BIGINT. */
  def duckXorMix(i: Int, h: String): String = s"xor($h, ${xorSeeds(i)})"
}
