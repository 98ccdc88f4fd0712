package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{AllocLine, BandRow, FunnelEvent, OrderEvent, Pipelines, Replay}

case class Ev(ts: Timestamp, user_id: Long, event_type: String)
case class CKV(k: String, event_time: Timestamp)
case class DocIn(text: String, event_time: Timestamp)
case class OrderIn(o_orderkey: Long, o_custkey: Long, o_totalprice: Double, o_orderdate: Timestamp)
case class LineIn(l_orderkey: Long, l_linenumber: Int, l_extendedprice: Double, l_shipdate: Timestamp)

/** MemoryStream micro-batch tests: out-of-order arrival, cross-batch
  * state carry-over, watermark finalization — the behaviors the
  * single-batch replay queries can't exercise.
  */
class StreamingSpec extends SparkSpecBase {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)
  private val sentinel = t("2100-01-01 00:00:00")

  private def drain(q: StreamingQuery): Unit = q.processAllAvailable()

  test("Replay is the only place a streaming query starts") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(sys.props("user.dir"), "src", "main", "scala")
    val walk = java.nio.file.Files.walk(root)
    val code = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p.getFileName.toString -> java.nio.file.Files.readAllLines(p).asScala
        .map(_.trim).filterNot(l => l.startsWith("//") || l.startsWith("*")))
      finally walk.close()
    def sites(token: String) = code.flatMap { case (f, ls) =>
      ls.filter(_.contains(token)).map(l => s"$f: $l") }
    assert(sites(".start()").forall(_.startsWith("Replay.scala:")), sites(".start()"))
    assert(sites(".writeStream").forall(s => s.startsWith("Replay.scala:") ||
      s.startsWith("Sinks.scala: df.writeStream.format(\"console\")")), sites(".writeStream"))
  }

  test("Replay.runForeachBatch releases its standing artifacts when the query fails") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val standing = spark.range(8).toDF("k").persist()
    standing.count()
    assert(standing.storageLevel.useMemory)
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L)
    intercept[Exception] {
      Replay.runForeachBatch(spark, ms.toDF(), standing = Seq(standing)) { (_, _) =>
        throw new IllegalStateException("sink down")
      }
    }
    assert(standing.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
  }

  test("st14: the streamed index equals the batch-built artifacts bit-for-bit") {
    val streamed = graft.streaming.StreamQueries.st14_stream_index(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Similarity.indexRows(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "streamed index must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "ingest-built index diverges from the batch build")
  }

  test("dau: dedups within and across batches, accepts out-of-order rows, finalizes per watermark") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val q = Pipelines.dau(ms.toDF())
      .writeStream.format("memory").queryName("dau_ms")
      .option("checkpointLocation", tmpDir("cp_dau_"))
      .outputMode("append").start()
    try {
      ms.addData(
        Ev(t("2024-01-01 10:00:00"), 1, "click"),
        Ev(t("2024-01-01 11:00:00"), 1, "click"), // same-day duplicate user
        Ev(t("2024-01-01 12:00:00"), 2, "click"))
      drain(q)
      ms.addData(
        Ev(t("2024-01-02 01:00:00"), 2, "click"),
        Ev(t("2024-01-01 23:00:00"), 3, "click")) // out-of-order, within watermark
      drain(q)
      ms.addData(Ev(sentinel, -1, "x")); drain(q)
      ms.addData(Ev(t("2100-01-02 00:00:00"), -1, "x")); drain(q)
      val got = spark.table("dau_ms").where(col("dt") < "2090-01-01")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("2024-01-01" -> 3L, "2024-01-02" -> 1L))
    } finally q.stop()
  }

  test("firstOrderFlag: state carries across batches (arrival-order semantics)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[OrderEvent]
    // wide watermark delay: this test exercises carry-over, not eviction
    val q = Pipelines.firstOrderFlag(
        ms.toDS().withWatermark("o_orderdate", "365 days")).toDF()
      .writeStream.format("memory").queryName("fof_ms")
      .option("checkpointLocation", tmpDir("cp_fof_"))
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two orders; the earlier date wins the flag
      ms.addData(
        OrderEvent(10, 1, t("2024-02-01 00:00:00")),
        OrderEvent(11, 1, t("2024-01-01 00:00:00")))
      drain(q)
      // batch 2: an even earlier order arrives late -> NOT first (state
      // already marked user 1); a brand-new user gets the flag
      ms.addData(
        OrderEvent(5, 1, t("2023-06-01 00:00:00")),
        OrderEvent(20, 2, t("2024-03-01 00:00:00")))
      drain(q)
      val got = spark.table("fof_ms")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got === Map(10L -> "0", 11L -> "1", 5L -> "0", 20L -> "1"))
    } finally q.stop()
  }

  test("firstOrderFlag: hot-tier state is TTL-evicted; the compacted table catches the return") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[OrderEvent]
    val q = Pipelines.firstOrderFlag(
        ms.toDS().withWatermark("o_orderdate", "1 hour"),
        ttlMs = 60 * 1000L).toDF() // 1-minute TTL
      .writeStream.format("memory").queryName("fof_ttl")
      .option("checkpointLocation", tmpDir("cp_fof_ttl_"))
      .outputMode("append").start()
    try {
      ms.addData(OrderEvent(1, 7, t("2024-01-01 00:00:00"))); drain(q)
      def stateRows: Long = spark.streams.active
        .flatMap(_.recentProgress).filter(_.stateOperators.nonEmpty)
        .flatMap(_.stateOperators.filter(
          _.operatorName.contains("flatMapGroupsWithState")))
        .last.numRowsTotal
      assert(stateRows === 1L)
      // advance the watermark a day past user 7's TTL -> state evicted
      ms.addData(OrderEvent(2, 8, t("2024-01-02 00:00:00"))); drain(q)
      ms.addData(OrderEvent(3, 9, t("2024-01-03 00:00:00"))); drain(q)
      assert(stateRows < 3L, "TTL-expired keys must leave the store")
      // user 7 returns after eviction: the HOT tier no longer knows
      // them (re-flags "1" — the documented miss)...
      ms.addData(OrderEvent(4, 7, t("2024-01-03 00:30:00"))); drain(q)
      val got = spark.table("fof_ttl")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(got(1L) === "1" && got(4L) === "1")
      // ...which is exactly what the COLD tier exists for: the same
      // returning order flagged against the compacted known-customers
      // table comes out "0" (the st03 wiring).
      val returning = Seq((4L, 7L, t("2024-01-03 00:30:00")))
        .toDF("o_orderkey", "o_custkey", "o_orderdate")
      val cold = Pipelines.firstOrderFlagBatch(
        returning, Some(Seq(7L).toDF("o_custkey")))
      assert(cold.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
        === Map(4L -> "0"))
    } finally q.stop()
  }

  test("simhashBandClaims: owner wins, near fp drops, far fp survives, TTL evicts the bucket") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[BandRow]
    val q = Pipelines.simhashBandClaims(
        ms.toDS().withWatermark("event_time", "1 hour"),
        maxHamming = 5, ttlMs = 60 * 1000L).toDF() // 1-minute dedup window
      .writeStream.format("memory").queryName("bands_ms")
      .option("checkpointLocation", tmpDir("cp_bands_"))
      .outputMode("append").start()
    try {
      val fpA = 0xABCDL
      val near = fpA ^ 0x3L    // hamming 2 from the owner
      val far = fpA ^ 0xFF00L  // hamming 8 — band collision, NOT a near-dup
      ms.addData(BandRow(5, 0, 7, fpA, t("2024-01-01 00:00:00"))); drain(q)
      ms.addData(
        BandRow(9, 0, 7, near, t("2024-01-01 00:00:10")),
        BandRow(10, 0, 7, far, t("2024-01-01 00:00:10")))
      drain(q)
      // advance the watermark days past the bucket's TTL -> evicted
      ms.addData(BandRow(99, 1, 0, 0L, t("2024-01-03 00:00:00"))); drain(q)
      ms.addData(BandRow(100, 1, 0, 0L, t("2024-01-04 00:00:00"))); drain(q)
      // the SAME near fingerprint now claims ok: the window has passed
      ms.addData(BandRow(11, 0, 7, near, t("2024-01-04 00:00:00"))); drain(q)
      val got = spark.table("bands_ms")
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(got === Map(
        5L -> true,   // bucket owner
        9L -> false,  // near-dup of the owner -> dropped
        10L -> true,  // mere band collision (hamming 8) -> kept
        99L -> true, 100L -> false, // second bucket: exact dup caught
        11L -> true)) // owner evicted by TTL -> fresh claim
    } finally q.stop()
  }

  test("st12 delivery contract: corpus split across files — in-window cross-batch near-dup drops; post-eviction near-dup survives") {
    // The st12 ORACLE models single-batch delivery (the one-file replay
    // guarantee, StreamQueries st12 docstring). This spec load-tests
    // the documented CROSS-batch semantics by replaying a corpus split
    // across six files, one micro-batch each (maxFilesPerTrigger=1),
    // through the full st12 pipeline shape (simhashFp → simhashBands →
    // simhashBandClaims): a near-dup arriving in a LATER batch inside
    // the dedup window still drops (owner state carries across
    // batches), and the same text arriving after the owner's TTL
    // eviction survives as a fresh claim — exactly what the ingest rule
    // does in production where delivery is never single-batch.
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val dir = java.nio.file.Paths.get(tmpDir("docs_multi_"))
    val ta = "alpha beta gamma delta epsilon zeta eta theta"
    val tb = "one two three four five six seven eight nine ten"
    val tc = "red orange yellow green blue indigo violet umber"
    def file(name: String, mtime: Long, rows: Seq[(Long, String, Timestamp)]): Unit = {
      val tmp = java.nio.file.Paths.get(tmpDir("docpart_"))
      rows.toDF("doc_id", "text", "event_time")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      java.nio.file.Files.copy(part, dir.resolve(name))
      java.nio.file.Files.setLastModifiedTime(dir.resolve(name),
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    // batch 1: bucket owner + an in-batch duplicate (sorted-by-id rule)
    file("a.parquet", 1000000L, Seq(
      (1L, ta, t("2024-01-01 00:00:00")), (2L, ta, t("2024-01-01 00:00:01"))))
    // batch 2: same text 30 s later — inside the 60 s window -> drops
    file("b.parquet", 1100000L, Seq((3L, ta, t("2024-01-01 00:00:30"))))
    // batches 3-4: unrelated docs march the watermark past the TTL
    // (eviction fires in batch 4: the watermark set by batch 3 exceeds
    // the owner bucket's newest-presentation + TTL)
    file("c.parquet", 1200000L, Seq((50L, tb, t("2024-01-01 00:05:00"))))
    file("d.parquet", 1300000L, Seq((51L, tc, t("2024-01-01 00:10:00"))))
    // batch 5: the SAME text after the owner's eviction -> fresh claim
    file("e.parquet", 1400000L, Seq((4L, ta, t("2024-01-01 00:11:40"))))
    file("z.parquet", 1500000L, Seq((-1L, "x", sentinel)))
    val schema = spark.read.parquet(dir.resolve("a.parquet").toString).schema
    val corpus = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .withWatermark("event_time", "10 seconds")
    val bands = graft.operators.Dedup.simhashBands(
        graft.operators.Dedup.simhashFp(corpus.where(col("doc_id") >= 0)))
      .select(col("doc_id"), col("band"), col("bkey"), col("fp"), col("event_time"))
      .as[BandRow]
    val q = Pipelines.simhashBandClaims(bands, maxHamming = 5, ttlMs = 60 * 1000L)
      .toDF()
      .writeStream.format("memory").queryName("st12_multi")
      .option("checkpointLocation", tmpDir("cp_st12multi_"))
      .outputMode("append").start()
    try {
      drain(q)
      val keepers = spark.table("st12_multi")
        .groupBy(col("doc_id"))
        .agg(min(when(col("ok"), lit(1)).otherwise(lit(0))).as("allok"))
        .collect().map(r => r.getLong(0) -> (r.getInt(1) == 1)).toMap
      assert(keepers === Map(
        1L -> true,   // bucket owner
        2L -> false,  // in-batch duplicate of the owner
        3L -> false,  // LATER-batch near-dup inside the window — state
                      // carried across batches, the documented drop
        50L -> true, 51L -> true, // unrelated docs pass through
        4L -> true))  // owner TTL-evicted before arrival — the
                      // documented cross-batch survival
    } finally q.stop()
  }

  test("firstOrderFlagBatch + KeyedUpsertTable: per-batch anti-lookup, compaction, replay determinism") {
    import spark.implicits._
    val tbl = new graft.sinks.KeyedUpsertTable(
      spark, tmpDir("known_"), Seq("o_custkey"), "o_custkey")
    // batch 0: no table yet; user 1's earliest order wins, user 2 new
    val b0 = Seq(
      (10L, 1L, t("2024-02-01 00:00:00")),
      (11L, 1L, t("2024-01-01 00:00:00")),
      (20L, 2L, t("2024-01-15 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val f0 = Pipelines.firstOrderFlagBatch(b0, tbl.readBefore(0))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(f0 === Map(10L -> "0", 11L -> "1", 20L -> "1"))
    tbl.upsert(b0.select(col("o_custkey")).distinct(), 0)
    // batch 1: user 1 returns (known -> "0"), user 3 is new
    val b1 = Seq(
      (30L, 1L, t("2024-03-01 00:00:00")),
      (40L, 3L, t("2024-03-02 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val f1 = Pipelines.firstOrderFlagBatch(b1, tbl.readBefore(1))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(f1 === Map(30L -> "0", 40L -> "1"))
    tbl.upsert(b1.select(col("o_custkey")).distinct(), 1)
    // compaction: one row per customer, however many batches saw them
    assert(tbl.read().collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    // replay determinism: batch 1 re-run AFTER its upsert committed
    // still reads the pre-batch version -> identical flags
    val f1replay = Pipelines.firstOrderFlagBatch(b1, tbl.readBefore(1))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(f1replay === f1)
  }

  test("dau: data later than the watermark is dropped, not double-counted") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val q = Pipelines.dau(ms.toDF())
      .writeStream.format("memory").queryName("dau_late")
      .option("checkpointLocation", tmpDir("cp_late_"))
      .outputMode("append").start()
    try {
      ms.addData(Ev(t("2024-01-01 10:00:00"), 1, "click")); drain(q)
      // advance the watermark far past day 1 (delay is 1 hour)
      ms.addData(Ev(t("2024-01-05 00:00:00"), 2, "click")); drain(q)
      // a day-1 straggler, now behind the watermark: must be dropped
      ms.addData(Ev(t("2024-01-01 09:00:00"), 9, "click")); drain(q)
      ms.addData(Ev(sentinel, -1, "x")); drain(q)
      ms.addData(Ev(t("2100-01-02 00:00:00"), -1, "x")); drain(q)
      val got = spark.table("dau_late").where(col("dt") < "2090-01-01")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("2024-01-01" -> 1L, "2024-01-05" -> 1L))
    } finally q.stop()
  }

  test("paymentAllocation: lines spanning batches allocate once, exactly to the total") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[AllocLine]
    val lines = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.paymentAllocation(lines).toDF()
      .writeStream.format("memory").queryName("alloc_ms")
      .option("checkpointLocation", tmpDir("cp_alloc_"))
      .outputMode("append").start()
    try {
      val t0 = t("2024-01-01 00:00:00")
      // order 1 arrives split across two batches; order 2 in one
      ms.addData(
        AllocLine(1, 1, 1000.0, 5000.0, t0),
        AllocLine(1, 2, 2000.0, 5000.0, t0))
      drain(q)
      assert(spark.table("alloc_ms").count() === 0, "must wait for the TTL, not emit eagerly")
      ms.addData(
        AllocLine(1, 3, 2000.0, 5000.0, t("2024-01-01 00:00:10")),
        AllocLine(2, 1, 700.0, 900.0, t("2024-01-01 00:00:10")))
      drain(q)
      ms.addData(AllocLine(-1, 0, 0.0, 0.0, sentinel)); drain(q)
      ms.addData(AllocLine(-1, 1, 0.0, 0.0, t("2100-06-01 00:00:00"))); drain(q)
      val got = spark.table("alloc_ms").where(col("order_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
      // order 1: floor-proportional 10.00 / 20.00, last line takes the 20.00 remainder
      assert(got === Map(
        (1L, 1) -> 10.0, (1L, 2) -> 20.0, (1L, 3) -> 20.0,
        (2L, 1) -> 9.0))
    } finally q.stop()
  }

  test("funnel: stages chain across batches; a late earlier signup does not retro-qualify") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[FunnelEvent]
    val ev = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.funnel(ev).toDF()
      .writeStream.format("memory").queryName("funnel_ms")
      .option("checkpointLocation", tmpDir("cp_funnel_"))
      .outputMode("append").start()
    try {
      def fe(uid: Long, typ: String, s: String, id: Long) = {
        val tt = t(s); FunnelEvent(uid, typ, tt.getTime * 1000L, id, tt)
      }
      // batch 1: user 1 signs up; user 2's click arrives with NO signup
      ms.addData(
        fe(1, "signup", "2024-01-01 00:00:00", 1),
        fe(2, "click", "2024-01-01 00:00:05", 2))
      drain(q)
      // batch 2: user 1 advances in order (click, then purchase);
      // user 2's signup arrives LATE with an EARLIER event time — the
      // monotone machine must not retro-qualify the rejected click
      ms.addData(
        fe(1, "click", "2024-01-01 00:00:10", 3),
        fe(1, "purchase", "2024-01-01 00:00:20", 4),
        fe(2, "signup", "2024-01-01 00:00:01", 5))
      drain(q)
      ms.addData(fe(-1, "x", "2100-01-01 00:00:00", 6)); drain(q)
      ms.addData(fe(-1, "x", "2100-06-01 00:00:00", 7)); drain(q)
      val got = spark.table("funnel_ms").where(col("user_id") >= 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 3L, 2L -> 1L), s"got $got")
    } finally q.stop()
  }

  test("scd2: a same-type run straddling batches collapses to ONE version; late earliest event reorders correctly") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.streaming.ScdEvent]
    val ev = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.scd2(ev).toDF()
      .writeStream.format("memory").queryName("scd2_ms")
      .option("checkpointLocation", tmpDir("cp_scd2_"))
      .outputMode("append").start()
    try {
      def se(uid: Long, typ: String, s: String, id: Long) = {
        val tt = t(s); graft.streaming.ScdEvent(uid, typ, tt.getTime * 1000L, id, tt)
      }
      // user 1's "view" run straddles the batch boundary; user 2's
      // chronologically FIRST event arrives in the second batch
      // (within the 1h watermark of batch 1's max — later than that is
      // the documented late-data drop, not reordering)
      ms.addData(se(1, "view", "2024-01-01 09:30:00", 1)); drain(q)
      ms.addData(
        se(1, "view", "2024-01-01 11:00:00", 2),
        se(1, "click", "2024-01-01 12:00:00", 3),
        se(2, "click", "2024-01-01 11:00:00", 5),
        se(2, "signup", "2024-01-01 09:00:00", 4)); drain(q)
      ms.addData(se(-1, "x", "2100-01-01 00:00:00", 6)); drain(q)
      ms.addData(se(-1, "x", "2100-06-01 00:00:00", 7)); drain(q)
      val got = spark.table("scd2_ms").where(col("user_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getString(1)).toMap
      // user 1: view(1) click(2) — the straddling run is ONE version
      // user 2: signup(1) click(2) — buffered state reorders by event time
      assert(got === Map((1L, 1L) -> "view", (1L, 2L) -> "click",
        (2L, 1L) -> "signup", (2L, 2L) -> "click"), s"got $got")
    } finally q.stop()
  }

  test("attribution: a late-arriving earlier click attributes; equal-ts click is at-or-before; no-click purchase emits nulls") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.streaming.AttrEvent]
    val ev = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.attribution(ev).toDF()
      .writeStream.format("memory").queryName("attr_ms")
      .option("checkpointLocation", tmpDir("cp_attr_"))
      .outputMode("append").start()
    try {
      def ae(uid: Long, click: Boolean, s: String, id: Long) = {
        val tt = t(s)
        graft.streaming.AttrEvent(uid, tt.getTime * 1000L, id, click, tt)
      }
      // batch 1: user 1's purchase arrives FIRST; user 2's purchase has
      // no click at all
      ms.addData(
        ae(1, click = false, "2024-01-01 00:00:10", 2),
        ae(2, click = false, "2024-01-01 00:00:30", 5))
      drain(q)
      // batch 2: user 1's click arrives LATE with an EARLIER event time
      // (within the watermark) — the buffered sweep must attribute the
      // batch-1 purchase to it, which no eager per-batch join could;
      // plus an equal-timestamp click/purchase pair (at-or-before)
      ms.addData(
        ae(1, click = true, "2024-01-01 00:00:05", 1),
        ae(1, click = true, "2024-01-01 00:00:20", 3),
        ae(1, click = false, "2024-01-01 00:00:20", 4))
      drain(q)
      ms.addData(ae(-1, click = false, "2100-01-01 00:00:00", 6)); drain(q)
      ms.addData(ae(-1, click = false, "2100-06-01 00:00:00", 7)); drain(q)
      val got = spark.table("attr_ms").where(col("user_id") >= 0)
        .collect().map { r =>
          r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))
        }.toMap
      assert(got === Map(
        2L -> Some(1L), // late-arriving earlier click wins
        4L -> Some(3L), // equal-ts click is at-or-before
        5L -> None),    // no prior click → null columns
        s"got $got")
    } finally q.stop()
  }

  test("multiTouch: a late-arriving earlier click joins the split; remainder cents go to the earliest rank") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.streaming.MtEvent]
    val ev = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.multiTouch(ev).toDF()
      .writeStream.format("memory").queryName("mt_ms")
      .option("checkpointLocation", tmpDir("cp_mt_"))
      .outputMode("append").start()
    try {
      def me(uid: Long, click: Boolean, s: String, id: Long, cents: Long) = {
        val tt = t(s)
        graft.streaming.MtEvent(uid, tt.getTime * 1000L, id, click, cents, tt)
      }
      // batch 1: the purchase (101 cents) arrives BEFORE both its clicks
      ms.addData(me(1, click = false, "2024-01-01 00:10:00", 10, 101))
      drain(q)
      // batch 2: two clicks arrive late with EARLIER event times — both
      // must join the split; an equal-ts click (strictly-before rule)
      // and an out-of-lookback click must NOT
      ms.addData(
        me(1, click = true, "2024-01-01 00:01:00", 1, 0),
        me(1, click = true, "2024-01-01 00:02:00", 2, 0),
        me(1, click = true, "2024-01-01 00:10:00", 3, 0), // equal ts
        me(1, click = true, "2023-12-20 00:00:00", 4, 0)) // outside 7d
      drain(q)
      ms.addData(me(-1, click = false, "2100-01-01 00:00:00", 6, 0)); drain(q)
      ms.addData(me(-1, click = false, "2100-06-01 00:00:00", 7, 0)); drain(q)
      val got = spark.table("mt_ms").where(col("user_id") >= 0)
        .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(5))).sorted
      // 101 = 50 + 50 + the remainder cent, which rank 1 takes
      assert(got.toSeq === Seq((1L, 1L, 51L), (2L, 2L, 50L)), s"got ${got.toSeq}")
    } finally q.stop()
  }

  test("st44: the streamed multi-touch split equals batch j14 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st44_stream_multitouch")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.j14_multitouch_attribution(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq,
      "ingest multi-touch diverges from the batch split")
  }

  test("st55: the served insert slice equals batch j17 (tombstones = exactly the j17-absent bounded keys)") {
    val served = graft.streaming.StreamQueries
      .queries("st55_stream_cdc_apply")(spark, sf)
    served.cache()
    // live keys: identical state minus n_ops (the order-dependent
    // column st55 deliberately trades for O(1) state)
    val live = served.where(col("op") === "insert")
      .select("user_id", "balance_c", "segment", "last_tsu")
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.j17_cdc_apply(spark, sf)
      .select("user_id", "balance_c", "segment", "last_tsu")
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(live.nonEmpty && live.toSeq === batch.toSeq,
      "ingest CDC state diverges from the batch apply")
    // tombstoned keys are visible with null columns
    val tomb = served.where(col("op") === "delete")
    assert(tomb.count() > 0, "fixture must exercise the delete path")
    assert(tomb.where(col("balance_c").isNotNull || col("segment").isNotNull).count() === 0,
      "a tombstone must not carry attribute values")
    served.unpersist()
  }

  test("st47: undecayed streamed cells decay on read to batch a19 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st47_stream_decay_serve")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.a19_decayed_engagement(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq,
      "read-time decay over served cells diverges from the batch totals")
  }

  test("st46: the cube served from streamed cells equals batch a18 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st46_stream_cube_serve")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.a18_event_cube(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "served cube must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "the on-read lattice diverges from the batch cube")
  }

  test("st45: the stateless streamed drift gate equals batch c08 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st45_stream_drift_gate")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Curation.c08_drift_gated_admission(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "streamed drift gate must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "the ingest admission gate diverges from the batch act")
  }

  test("st32: the streamed as-of attribution equals batch j12 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st32_stream_attribution")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.j12_attribution_asof(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "streamed attribution must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "ingest attribution diverges from the batch as-of join")
  }

  test("st33: the streamed range-join assignment equals batch j10 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st33_stream_range_join")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Relational.j10_range_join(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "streamed range join must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "ingest campaign assignment diverges from the batch range join")
  }

  test("st34: the bloom-pruned ingest equals the exact join, sentinel dropped") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.StreamQueries
      .queries("st34_stream_bloom_prune")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = {
      val hot = graft.Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      graft.Tables.lineitem(spark, sf)
        .join(hot, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100) / 100).as("net"))
    }.collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "pruned ingest must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "the ingest prune changed the joined relation")
  }

  test("st35: the ingest-served hybrid ranking equals batch n18 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st35_stream_hybrid_serve")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Similarity.n18_hybrid_rrf(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    spark.catalog.clearCache()
    assert(streamed.nonEmpty, "served hybrid ranking must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "ingest-served fusion diverges from the batch hybrid ranking")
  }

  test("st37: the ingest-served keeper table equals batch d11 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st37_stream_incremental_dedup")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Dedup.d11_incremental_dedup(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    assert(streamed.nonEmpty, "served keeper table must not be empty")
    assert(streamed.toSeq === batch.toSeq,
      "ingest incremental dedup diverges from the batch nightly")
  }

  test("st38: the ingest near-dup probe equals batch d12 exactly") {
    val streamed = graft.streaming.StreamQueries
      .queries("st38_stream_incremental_neardup")(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    val batch = graft.operators.Dedup.d12_incremental_neardup(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted
    spark.catalog.clearCache()
    assert(streamed.nonEmpty, "the planted near-copies must surface at ingest")
    assert(streamed.toSeq === batch.toSeq,
      "ingest near-dup probing diverges from the batch nightly")
  }

  test("twins sharing a batch transform: each st* replay equals its batch query") {
    val twins = Seq(
      "st25_stream_quarantine" -> "p12_quarantine",
      "st48_stream_corrupt_route" -> "p14_corrupt_route",
      "st52_stream_ohlc_serve" -> "w05_ohlc_candles",
      "st87_stream_heatmap" -> "w20_weekly_heatmap",
      "st92_stream_gram_serve" -> "n35_embedding_gram",
      "st95_stream_ewma" -> "w21_ewma",
      "st97_stream_waiting_supplier" -> "j33_waiting_supplier",
      "st98_stream_silent_rich" -> "j31_above_avg_silent",
      "st100_stream_pmi" -> "t41_pmi_collocations",
      "st102_stream_top_supplier" -> "j44_top_supplier",
      "st103_stream_large_volume" -> "j45_large_volume",
      "st104_stream_promo_share" -> "j43_promo_effect",
      "st110_stream_binary_ingest" -> "s16_binaryfile_source",
      "st26_stream_mixture_serve" -> "t19_domain_mixture",
      "st43_stream_kmv_serve" -> "a17_kmv_sample",
      "st53_stream_cms_serve" -> "a23_count_min",
      "st57_stream_sample_serve" -> "t28_weighted_sample",
      "st63_stream_first_seen" -> "w08_cumulative_users",
      "st81_stream_quantile_exact" -> "a14x_quantile_exact",
      "st85_stream_rollup_serve" -> "a49_rollup_revenue",
      "st88_stream_new_vs_ret" -> "a50_new_vs_returning")
    def rows(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val mismatched = twins.flatMap { case (st, batch) =>
      val (s, b) = (rows(st), rows(batch))
      if (s.nonEmpty && s == b) None
      else Some(s"$st vs $batch (${s.size} vs ${b.size} rows)")
    }
    spark.catalog.clearCache()
    assert(mismatched.isEmpty,
      s"streamed twins diverge from their batch query: ${mismatched.mkString("; ")}")
  }

  test("retention: the cohort is the MIN day even when the earliest event arrives last") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[graft.streaming.RetEvent]
    val ev = ms.toDS().withWatermark("event_time", "1 hour")
    val q = Pipelines.retention(ev).toDF()
      .writeStream.format("memory").queryName("ret_ms")
      .option("checkpointLocation", tmpDir("cp_ret_"))
      .outputMode("append").start()
    try {
      def re(uid: Long, day: Int, s: String) =
        graft.streaming.RetEvent(uid, day, t(s))
      // days are EPOCH days (the timeout anchors on day·86400000 ms —
      // a toy day number would park the timeout in 1970 and flush the
      // state between batches): 2024-01-19/21/22 = 19741/19743/19744
      ms.addData(re(1, 19743, "2024-01-21 00:00:00")); drain(q)
      // the user's EARLIEST day arrives in a later batch (a backfill
      // record carrying an old date, delivered within the watermark)
      ms.addData(re(1, 19741, "2024-01-20 23:30:00"), re(1, 19744, "2024-01-22 00:00:00")); drain(q)
      ms.addData(re(-1, 47663, "2100-01-01 00:00:00")); drain(q)
      ms.addData(re(-1, 47814, "2100-06-01 00:00:00")); drain(q)
      val got = spark.table("ret_ms").where(col("user_id") >= 0)
        .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
      assert(got === Set((19741, 19741), (19741, 19743), (19741, 19744)),
        s"cohort must be day 19741 for every emitted pair, got $got")
    } finally q.stop()
  }

  test("orderWideInner: state evicts at the range bound — a partner past it does NOT match") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val msO = MemoryStream[OrderIn]
    val msL = MemoryStream[LineIn]
    // production-style tight range: state held ~1h of event time
    val q = Pipelines.orderWideInner(msO.toDF(), msL.toDF(), range = "1 hour")
      .writeStream.format("memory").queryName("evict_ms")
      .option("checkpointLocation", tmpDir("cp_evict_"))
      .outputMode("append").start()
    try {
      // order A arrives; its line will try to arrive after eviction
      msO.addData(OrderIn(1, 100, 50.0, t("2024-01-01 00:00:00")))
      msL.addData(LineIn(99, 1, 0.0, t("2024-01-01 00:00:00"))) // keeps line wm moving
      drain(q)
      // advance BOTH watermarks a week past order A's retention window
      // (o_orderdate + range + delay); order B stays within retention
      msO.addData(
        OrderIn(98, 0, 0.0, t("2024-01-08 00:00:00")),
        OrderIn(2, 200, 70.0, t("2024-01-07 23:30:00")))
      msL.addData(LineIn(97, 1, 0.0, t("2024-01-08 00:00:00")))
      drain(q)
      // order A's partner: satisfies the range predicate, but A's state
      // was evicted and the row is behind the watermark -> dropped.
      // order B's partner: within range and watermark -> matches.
      msL.addData(
        LineIn(1, 1, 25.0, t("2024-01-01 00:30:00")),
        LineIn(2, 1, 33.0, t("2024-01-07 23:45:00")))
      drain(q)
      val got = spark.table("evict_ms")
        .collect().map(_.getAs[Long]("order_id")).toSet
      assert(got === Set(2L), s"evicted order must not match, got $got")
    } finally q.stop()
  }

  test("dau: dedup state for old days is evicted once the watermark passes") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Ev]
    val q = Pipelines.dau(ms.toDF())
      .writeStream.format("memory").queryName("dau_evict")
      .option("checkpointLocation", tmpDir("cp_dau_ev_"))
      .outputMode("append").start()
    try {
      ms.addData(
        Ev(t("2024-01-01 12:00:00"), 1, "click"),
        Ev(t("2024-01-01 13:00:00"), 2, "click"))
      drain(q)
      def dedupRows: Long = spark.streams.active
        .flatMap(_.recentProgress).filter(_.stateOperators.nonEmpty)
        .flatMap(_.stateOperators.filter(_.operatorName.contains("dedupe")))
        .last.numRowsTotal
      assert(dedupRows === 2L)
      // watermark -> 2024-01-08 23:00, far past day-1 state's
      // (event time + 25 h) retention: both entries must be evicted
      ms.addData(Ev(t("2024-01-10 00:00:00"), 3, "click")); drain(q)
      assert(dedupRows === 1L, "day-1 dedup entries must be evicted")
      // a day-1 duplicate arriving now is late -> dropped, not recounted
      ms.addData(Ev(t("2024-01-01 12:00:00"), 1, "click")); drain(q)
      ms.addData(Ev(sentinel, -1, "x")); drain(q)
      ms.addData(Ev(t("2100-01-03 00:00:00"), -1, "x")); drain(q)
      val got = spark.table("dau_evict").where(col("dt") < "2090-01-01")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === Map("2024-01-01" -> 2L, "2024-01-10" -> 1L))
    } finally q.stop()
  }

  test("orderWideFull: both-side completion — order_only and line_only emit once the watermark closes") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val msO = MemoryStream[OrderIn]
    val msL = MemoryStream[LineIn]
    val q = Pipelines.orderWideFull(msO.toDF(), msL.toDF(), range = "1 hour")
      .writeStream.format("memory").queryName("full_ms")
      .option("checkpointLocation", tmpDir("cp_full_"))
      .outputMode("append").start()
    try {
      // order 1 matched; order 2 never gets a line; line 3 never gets an order
      msO.addData(
        OrderIn(1, 100, 50.0, t("2024-01-01 00:00:00")),
        OrderIn(2, 200, 70.0, t("2024-01-01 00:00:00")))
      msL.addData(
        LineIn(1, 1, 25.0, t("2024-01-01 00:10:00")),
        LineIn(3, 1, 9.0, t("2024-01-01 00:10:00")))
      drain(q)
      // push both watermarks past retention so unmatched state flushes
      msO.addData(OrderIn(-8, 0, 0.0, t("2024-01-02 00:00:00")))
      msL.addData(LineIn(-9, 1, 0.0, t("2024-01-02 00:00:00")))
      drain(q)
      msO.addData(OrderIn(-8, 0, 0.0, t("2024-01-03 00:00:00")))
      msL.addData(LineIn(-9, 1, 0.0, t("2024-01-03 00:00:00")))
      drain(q)
      val got = spark.table("full_ms").where(col("order_id") >= 0)
        .collect().map(r => r.getAs[Long]("order_id") -> r.getAs[String]("join_state")).toSet
      assert(got.contains(1L -> "matched"))
      assert(got.contains(2L -> "order_only"))
      assert(got.contains(3L -> "line_only"))
    } finally q.stop()
  }

  test("orderWideInner: join state survives a checkpointed restart") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val msO = MemoryStream[OrderIn]
    val msL = MemoryStream[LineIn]
    val cp = tmpDir("cp_restart_join_")
    val out = tmpDir("out_restart_join_")
    // memory sinks don't support recovery; a file sink does
    def start() = Pipelines.orderWideInner(msO.toDF(), msL.toDF(), Pipelines.ReplayJoinRange)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append").start()
    // run 1: an order arrives with no partner, lands in join state
    val q1 = start()
    try {
      msO.addData(OrderIn(1, 100, 50.0, t("2024-01-01 00:00:00")))
      drain(q1)
      assert(spark.read.parquet(out).count() === 0)
    } finally q1.stop()
    // run 2 (same checkpoint): the partner arrives AFTER the restart —
    // the match must emit from recovered state, not re-read sources
    val q2 = start()
    try {
      msL.addData(LineIn(1, 1, 25.0, t("2024-01-01 00:30:00")))
      drain(q2)
      val got = spark.read.parquet(out)
        .collect().map(r => (r.getAs[Long]("order_id"), r.getAs[Double]("sku_total")))
      assert(got.toSeq === Seq((1L, 25.0)))
    } finally q2.stop()
  }

  test("orderWideInner: cross-batch matches land (unlike a per-batch RDD join)") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val msO = MemoryStream[OrderIn]
    val msL = MemoryStream[LineIn]
    val q = Pipelines.orderWideInner(msO.toDF(), msL.toDF(), Pipelines.ReplayJoinRange)
      .writeStream.format("memory").queryName("wide_ms")
      .option("checkpointLocation", tmpDir("cp_wide_"))
      .outputMode("append").start()
    try {
      // batch 1: an order with no lines yet, a line with no order yet
      msO.addData(OrderIn(1, 100, 50.0, t("2024-01-01 00:00:00")))
      msL.addData(LineIn(2, 1, 9.0, t("2024-01-01 00:00:00")))
      drain(q)
      assert(spark.table("wide_ms").count() === 0)
      // batch 2: the partners arrive -> both matches emit from state
      msO.addData(OrderIn(2, 200, 70.0, t("2024-01-02 00:00:00")))
      msL.addData(LineIn(1, 1, 25.0, t("2024-01-02 00:00:00")))
      drain(q)
      val got = spark.table("wide_ms")
        .collect().map(r => r.getAs[Long]("order_id")).sorted
      assert(got.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("st28's dedup state survives a checkpointed restart (row-local rep kernel)") {
    // dedup -> row-local rep_stats projection (repGateChain, r18: the
    // former gram-level + doc-level windowed aggregations collapsed
    // into the codegen'd kernel — dedup is the chain's only stateful
    // op and rows emit on first arrival), killed mid-stream: the
    // post-restart duplicate must be dropped by RECOVERED dedup state,
    // and every emitted row's signals must equal the batch t21
    // arithmetic exactly.
    graft.plans.GraftExtensions.register(spark)
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[DocIn]
    val cp = tmpDir("cp_rep_restart_")
    val out = tmpDir("out_rep_restart_")
    // textA trips the dup-5-gram gate (a 12-token sentence repeated);
    // textB is clean. Both >= 5 tokens so every family derives.
    val sentence = "the quick brown fox jumps over a lazy dog in green fields"
    val textA = s"alpha beta gamma delta epsilon $sentence zeta eta theta iota kappa $sentence"
    val textB = "one two three four five six seven eight nine ten eleven twelve"
    def start() = graft.streaming.StreamQueries.repGateChain(
        ms.toDF().withWatermark("event_time", "1 hour"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    try {
      ms.addData(DocIn(textA, t("2024-01-01 00:00:00")))
      ms.addData(DocIn(textA, t("2024-01-01 00:00:01"))) // dup, same run
      drain(q1)
      assert(spark.read.parquet(out).count() === 1,
        "first arrival emits immediately; the in-run dup is dropped")
    } finally q1.stop()
    val q2 = start()
    try {
      // a's THIRD copy arrives after the restart: only recovered dedup
      // state can drop it (a lost store would emit a second textA row)
      ms.addData(DocIn(textA, t("2024-01-01 00:00:02")))
      ms.addData(DocIn(textB, t("2024-01-01 00:00:03")))
      drain(q2)
      // sentinel: 1-token text derives no bigram position -> no row
      ms.addData(DocIn("x", sentinel))
      drain(q2)
      val rows = spark.read.parquet(out).collect()
      assert(rows.length === 2,
        s"one row per distinct doc — a third row means dedup state was lost")
      val got = rows.map(r => r.getString(0) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
      val expected = graft.operators.TextAnalysis.repSignals(spark,
          Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"))
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Double]("top2_frac"), r.getAs[Double]("top3_frac"),
            r.getAs[Double]("dup5_frac"), r.getAs[Boolean]("rep_keep"))).toMap
      def md5of(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      assert(got.size === 2, s"exactly one row per distinct doc; got $got")
      assert(got(md5of(textA)) === expected(1L), "textA signals must match batch t21")
      assert(got(md5of(textB)) === expected(2L), "textB signals must match batch t21")
      assert(!got(md5of(textA))._4 && got(md5of(textB))._4,
        "the repetitive doc must be gated, the clean one kept")
    } finally q2.stop()
  }

  test("st35's hybrid_lex kernel = the interpreted HOF fold (r19 parity lock)") {
    // the lexical leg's per-document BM25 battery: the codegen'd
    // kernel must emit the identical array<struct<query_id, lex_micro,
    // n_match>> the nested transform/filter/aggregate formulation
    // (kept as Builtins.hybridLexBuiltin) produced — over docs
    // with empty text, < 3 tokens, repeated tokens, consecutive
    // spaces, and terms shared across queries.
    import spark.implicits._
    graft.plans.GraftExtensions.register(spark)
    val model = Seq(
      (0L, "apple", 693147L, 4.5),
      (0L, "banana", 1386294L, 4.5),
      (1L, "apple", 693147L, 4.5), // same term, second query
      (1L, "cherry", 405465L, 4.5),
      (2L, "durian", 2000000L, 4.5)) // query with no matches anywhere
      .toDF("query_id", "token", "idf_micro", "avgdl")
    val qarr = model.agg(collect_list(struct(col("query_id"), col("token"),
      col("idf_micro"), col("avgdl"))).as("qarr"))
    val docs = Seq(
      (10L, "apple banana apple cherry"),
      (11L, "apple  banana"), // empty token from the double space
      (12L, ""),
      (13L, "x"),
      (14L, "banana banana banana banana"),
      (15L, "unrelated words only here")).toDF("doc_id", "text")
    val joined = docs.join(broadcast(qarr), lit(true), "inner")
    def rows(c: org.apache.spark.sql.Column) = joined
      .select(col("doc_id"), explode(c).as("lq"))
      .select(col("doc_id"), col("lq.query_id"), col("lq.lex_micro"), col("lq.n_match"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    val fast = rows(call_function("hybrid_lex",
      split(col("text"), " "), col("qarr"), lit(3)))
    val slow = rows(Builtins.hybridLexBuiltin(col("text"), col("qarr"), 3))
    assert(fast.nonEmpty && fast === slow)
  }

  test("chained dedup -> windowed agg: both operators' state survives a checkpointed restart") {
    // st18's two-stateful-op shape (dropDuplicatesWithinWatermark feeding a
    // windowed aggregation), restarted mid-stream: the post-restart duplicate
    // must be dropped by RECOVERED dedup state, and the final counts must
    // come from RECOVERED aggregation state — both stores checkpointed.
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[CKV]
    val cp = tmpDir("cp_chain_restart_")
    val out = tmpDir("out_chain_restart_")
    def start() = ms.toDS()
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("k")
      .groupBy(window(col("event_time"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("n"))
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append").start()
    val q1 = start()
    try {
      ms.addData(CKV("a", t("2024-01-01 00:00:00")), CKV("a", t("2024-01-01 00:00:01")),
        CKV("b", t("2024-01-01 00:00:02")))
      drain(q1)
      assert(spark.read.parquet(out).count() === 0, "windows must still be open")
    } finally q1.stop()
    val q2 = start()
    try {
      // a's THIRD copy arrives after the restart: only recovered dedup
      // state can drop it (a count of 2 below means it leaked through)
      ms.addData(CKV("a", t("2024-01-01 00:00:03")))
      drain(q2)
      ms.addData(CKV("zz", t("2100-01-01 00:00:00"))); drain(q2)
      ms.addData(CKV("zz2", t("2100-06-01 00:00:00"))); drain(q2)
      val got = spark.read.parquet(out)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // (the first sentinel's own window closes when the second advances
      // the watermark past it — its row is expected and ignored here)
      assert(got.get("a").contains(1L) && got.get("b").contains(1L),
        s"recovered dedup state must drop a's post-restart copy; got $got")
    } finally q2.stop()
  }
}
