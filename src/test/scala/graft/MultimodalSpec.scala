package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Byte-level BMP header decode against hand-planted fixtures: the
  * parser must read exact dimensions out of a real header and return
  * nulls for payloads that don't sniff as BMP.
  */
class MultimodalSpec extends SparkSpecBase {

  /** A literal 54-byte BMP header + 3 payload bytes, width 17 ×
    * height 9, 24 bpp — built by hand with java.nio, independent of
    * the operator's own header synthesizer.
    */
  private def plantedBmp(width: Int, height: Int, bpp: Short): Array[Byte] = {
    val body = Array[Byte](1, 2, 3)
    val buf = java.nio.ByteBuffer.allocate(54 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + body.length) // file size
    buf.putInt(0)                // reserved
    buf.putInt(54)               // pixel data offset
    buf.putInt(40)               // DIB header size
    buf.putInt(width)
    buf.putInt(height)
    buf.putShort(1)              // planes
    buf.putShort(bpp)
    buf.put(new Array[Byte](24)) // compression..palette
    buf.put(body)
    buf.array()
  }

  test("decodeBmp reads planted dimensions from the byte layout") {
    import spark.implicits._
    val df = Seq(Tuple1(plantedBmp(17, 9, 24))).toDF("payload")
      .select(Multimodal.decodeBmp(col("payload")).as("d"))
      .select(col("d.width"), col("d.height"), col("d.channels"))
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((17L, 9L, 3L)))
  }

  test("decodeBmp on a multi-byte dimension (LE order matters)") {
    import spark.implicits._
    val r = Seq(Tuple1(plantedBmp(1920, 1080, 8))).toDF("payload")
      .select(Multimodal.decodeBmp(col("payload")).as("d"))
      .select(col("d.width"), col("d.height"), col("d.channels"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1920L, 1080L, 1L)))
  }

  test("decodeBmp yields nulls for a payload that is not a BMP") {
    import spark.implicits._
    val r = Seq(Tuple1("plain text bytes".getBytes("UTF-8"))).toDF("payload")
      .select(Multimodal.decodeBmp(col("payload")).as("d"))
      .select(col("d.width"), col("d.height"), col("d.channels"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("decodeWav reads planted audio shape from a hand-built RIFF header") {
    import spark.implicits._
    val body = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)
    val buf = java.nio.ByteBuffer.allocate(44 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(36 + body.length).put("WAVE".getBytes)
    buf.put("fmt ".getBytes).putInt(16).putShort(1)
    buf.putShort(2)          // channels
    buf.putInt(44100)        // sample rate
    buf.putInt(44100 * 4)    // byte rate
    buf.putShort(4)          // block align
    buf.putShort(16)         // bits
    buf.put("data".getBytes).putInt(body.length).put(body)
    val r = Seq(Tuple1(buf.array())).toDF("payload")
      .select(Multimodal.decodeWav(col("payload")).as("d"))
      .select(col("d.channels"), col("d.sample_rate"), col("d.bits"), col("d.n_samples"))
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((2L, 44100L, 16L, 2L)))
  }

  test("decodeWav yields nulls for non-RIFF payloads") {
    import spark.implicits._
    val r = Seq(Tuple1("RIFFnot-a-wave".getBytes("UTF-8"))).toDF("payload")
      .select(Multimodal.decodeWav(col("payload")).as("d"))
      .select(col("d.channels"), col("d.sample_rate"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("binCounts nibble_hist kernel = hex-round-trip formulation (r18 parity lock)") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    // bytes spanning all 16 high nibbles: ASCII, multi-byte UTF-8
    // (0xC3/0xE4/0xF0 lead bytes), control chars, and a planted binary
    // body via the opaque md5 path mm14 itself uses
    val docs = Seq(
      (1L, "hello world"),
      (2L, "é世界 mixed utf8 😀"),
      (3L, "A"),
      (4L, "zzzz\t\nzzzz"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        when(col("doc_id") === 4L,
          unhex(concat(md5(col("text")), md5(concat(col("text"), lit("x"))))))
          .otherwise(encode(col("text"), "utf-8")).as("body"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fast = Multimodal.binCounts(docs, "body", "c")
    val slow = Builtins.binCountsBuiltin(docs, "body", "c")
    assert(fast.schema("bin").dataType === slow.schema("bin").dataType)
    val (f, s) = (rows(fast), rows(slow))
    assert(f.nonEmpty && f === s)
  }

  test("peakPairs peak_pairs kernel = four-deep HOF formulation (r18 parity lock)") {
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val docs = Seq(
      (1L, Seq[Long]()), // empty: no pairs
      (2L, Seq(7L)), // single peak: no partner
      (3L, Seq(5L, 9L)), // one pair, d=1
      (4L, Seq(1L, 2L, 3L, 4L)), // full fanout at the head, tapering tail
      (5L, (1L to 12L).map(_ * 100L))) // longer series
      .toDF("doc_id", "peaks")
    def rows(c: org.apache.spark.sql.Column) =
      docs.select(col("doc_id"), explode(c).as("p"))
        .select(col("doc_id"), col("p.f"), col("p.hkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val fast = rows(Multimodal.peakPairs(col("peaks")))
    val slow = rows(Builtins.peakPairsBuiltin(col("peaks")))
    assert(fast.nonEmpty && fast === slow)
  }

  test("mm01 round-trip: synthesized header parses back to the derived dims") {
    val rows = Multimodal.mm01_binary_meta(spark, sf)
      .select(col("width"), col("height"), col("channels"), col("magic"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.isNullAt(0) && r.getLong(0) < 640)
      assert(!r.isNullAt(1) && r.getLong(1) < 480)
      assert(r.getLong(2) >= 1 && r.getLong(2) <= 3)
      assert(r.getString(3).startsWith("424d"), "payload must sniff as BMP")
    }
  }
}
