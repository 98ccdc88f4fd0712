package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import graft.streaming.{Replay, Tws}

/** Restart contracts for the `transformWithState` path (st111/st112):
  * the new API's named state variables (ValueState/MapState/ListState
  * column families) and its event-time TIMER registry must all come
  * back from the checkpoint — the same kill/resume discipline every
  * serving twin in `StateCapSpec` carries, applied to the new API
  * surface. Timers are the novel part: a timer registered in run 1
  * must FIRE in run 2 once the recovered watermark passes it, with
  * emission content drawn from the recovered ListState.
  */
class TwsSpec extends SparkSpecBase {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  private def runUpsert(out: DataFrame, table: graft.sinks.KeyedUpsertTable,
                        cp: String): Unit = {
    val q = out.writeStream
      .outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => table.upsert(b, id))
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The TTL tests' runner: in ProcessingTime mode the TTL machinery
    * keeps scheduling batches, so AvailableNow (and
    * processAllAvailable) never terminate — stop on the source's
    * drained condition instead ([[Replay.runUntilDrained]]).
    */
  private def runUpsertPAA(out: DataFrame, table: graft.sinks.KeyedUpsertTable,
                           cp: String): Unit = {
    val q = out.writeStream
      .outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => table.upsert(b, id))
      .option("checkpointLocation", cp)
      .start()
    Replay.runUntilDrained(q)
  }

  /** One AvailableNow pass of the st112 timer processor over `ms`,
    * appending its fired horizons to the parquet table at `outDir`.
    */
  private def runTimers(ms: MemoryStream[Tws.OrderArrival], delay: String,
                        cp: String, outDir: String): Unit = {
    import spark.implicits._
    val q = ms.toDF().withWatermark("ts", delay).as[Tws.OrderArrival]
      .groupByKey(_.o_custkey)
      .transformWithState(new Tws.OrderTimerProcessor,
        TimeMode.EventTime(), OutputMode.Append()).toDF()
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", cp)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("tws profile: ValueState + MapState survive a kill/resume; accumulators continue") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Replay.RocksDbProvider) // TWS requires RocksDB
    val ms = MemoryStream[Tws.ProfileEvent]
    val cp = tmpDir("cp_tws_prof_")
    val table = new graft.sinks.KeyedUpsertTable(
      spark, tmpDir("tbl_tws_prof_"), Seq("user_id"), "user_id")
    def out = ms.toDF().as[Tws.ProfileEvent].groupByKey(_.user_id)
      .transformWithState(new Tws.UserProfileProcessor,
        TimeMode.None(), OutputMode.Update()).toDF()

    ms.addData(Tws.ProfileEvent(1L, 100L, "click", 5L),
      Tws.ProfileEvent(1L, 200L, "purchase", 7L))
    runUpsert(out, table, cp) // pass 1, writer dies
    ms.addData(Tws.ProfileEvent(1L, 300L, "purchase", 3L))
    runUpsert(out, table, cp) // resumed pass 2

    val r = table.read().where(col("user_id") === 1L).head()
    assert(r.getAs[Long]("n_events") === 3L, "count must continue across restart")
    assert(r.getAs[Long]("sum_cents") === 15L, "sum must continue across restart")
    assert(r.getAs[Long]("first_us") === 100L, "pre-restart min must survive")
    assert(r.getAs[Long]("last_us") === 300L, "post-restart max must land")
    assert(r.getAs[Long]("n_types") === 2L, "MapState keys must survive")
    assert(r.getAs[Long]("n_purchase") === 2L,
      "MapState count must continue across restart (1 before + 1 after)")
  }

  test("tws ttl: a value written in run 1 is evicted once the TTL horizon passes; the cache restarts from zero") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Replay.RocksDbProvider)
    val ms = MemoryStream[Tws.ActivityEvent]
    val cp = tmpDir("cp_tws_ttl_")
    val table = new graft.sinks.KeyedUpsertTable(
      spark, tmpDir("tbl_tws_ttl_"), Seq("user_id"), "user_id")
    // 30 s, not milliseconds: the TTL machinery keeps running during
    // the drain spin and the post-stop store read, so the margin must
    // cover run 2's own batches or the FRESH entry evicts too. 30 s
    // (vs the r16 5 s) keeps the headroom an order of magnitude above
    // a loaded-CI batch drain while still far below the 1 h
    // production config the sibling test contrasts — the 5 s margin
    // was measured flaky-adjacent (r16 ADVICE).
    val ttl = java.time.Duration.ofSeconds(30)
    def out = ms.toDF().as[Tws.ActivityEvent].groupByKey(_.user_id)
      .transformWithState(new Tws.TtlActivityProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update()).toDF()

    ms.addData(Tws.ActivityEvent(1L, 100L, 5L), Tws.ActivityEvent(1L, 200L, 7L))
    runUpsertPAA(out, table, cp) // run 1 writes the entry, TTL clock starts
    Thread.sleep(33000)       // processing time passes the 30 s horizon
    ms.addData(Tws.ActivityEvent(1L, 300L, 3L))
    runUpsertPAA(out, table, cp) // resumed run 2: the entry must be GONE

    val r = table.read().where(col("user_id") === 1L).head()
    assert(r.getAs[Long]("n_events") === 1L,
      "run-1 state must be evicted at the TTL horizon — the cache restarts at 1, not 3")
    assert(r.getAs[Long]("sum_cents") === 3L,
      "run-1 cents must not leak into the post-eviction entry")
    // the store itself holds only the restarted value (the state data
    // source reads the surviving row for the TTL'd variable; a TTL'd
    // value nests as value.value + value.ttlExpirationMs)
    val live = spark.read.format("statestore")
      .option("operatorId", 0).option("stateVarName", "activity").load(cp)
      .selectExpr("value.value.n_events").collect().map(_.getLong(0)).toSeq
    assert(live === Seq(1L),
      s"surviving store content must be the restarted entry, got $live")
  }

  test("tws ttl: within the TTL window the same kill/resume CONTINUES the accumulators") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Replay.RocksDbProvider)
    val ms = MemoryStream[Tws.ActivityEvent]
    val cp = tmpDir("cp_tws_ttl2_")
    val table = new graft.sinks.KeyedUpsertTable(
      spark, tmpDir("tbl_tws_ttl2_"), Seq("user_id"), "user_id")
    def out = ms.toDF().as[Tws.ActivityEvent].groupByKey(_.user_id)
      .transformWithState(
        new Tws.TtlActivityProcessor(java.time.Duration.ofHours(1)),
        TimeMode.ProcessingTime(), OutputMode.Update()).toDF()

    ms.addData(Tws.ActivityEvent(1L, 100L, 5L), Tws.ActivityEvent(1L, 200L, 7L))
    runUpsertPAA(out, table, cp) // run 1, writer dies
    ms.addData(Tws.ActivityEvent(1L, 300L, 3L))
    runUpsertPAA(out, table, cp) // resumed run 2: same entry, still live

    val r = table.read().where(col("user_id") === 1L).head()
    assert(r.getAs[Long]("n_events") === 3L,
      "inside the TTL window the recovered entry must continue across restart")
    assert(r.getAs[Long]("sum_cents") === 15L)
    assert(r.getAs[Long]("last_us") === 300L)
  }

  test("tws timers: a timer registered before the kill fires after the resume, judging the recovered ledger") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Replay.RocksDbProvider)
    val ms = MemoryStream[Tws.OrderArrival]
    val cp = tmpDir("cp_tws_timer_")
    val outDir = tmpDir("out_tws_timer_")
    def run(): Unit = runTimers(ms, "0 seconds", cp, outDir)

    // Run 1: two orders, 10 days apart — the watermark reaches day 10,
    // so neither +30d horizon (day 30 / day 40) can fire yet.
    ms.addData(Tws.OrderArrival(7L, 101L, t("2024-01-01 00:00:00")),
      Tws.OrderArrival(7L, 102L, t("2024-01-11 00:00:00")))
    run() // pass 1, writer dies — timers live only in the checkpoint
    // Run 2: one far-future order pushes the recovered watermark past
    // both horizons; both recovered timers must fire, each counting
    // the recovered 2-entry ledger (the new order is beyond both
    // horizons, so n_within stays 2 for both).
    ms.addData(Tws.OrderArrival(7L, 103L, t("2024-06-01 00:00:00")))
    run() // resumed pass 2

    val got = spark.read.parquet(outDir)
      .select(col("o_orderkey"), col("n_within"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(101L -> 2L, 102L -> 2L),
      s"recovered timers must fire post-restart over the recovered ledger: $got")
  }

  test("tws timers: same-date orders across micro-batches share one timer and all emit") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      Replay.RocksDbProvider)
    val ms = MemoryStream[Tws.OrderArrival]
    val cp = tmpDir("cp_tws_samedate_")
    val outDir = tmpDir("out_tws_samedate_")
    // a 2-day delay keeps batch 2's same-date order above the watermark
    def run(): Unit = runTimers(ms, "2 days", cp, outDir)
    val day = t("2024-01-01 00:00:00")

    ms.addData(Tws.OrderArrival(9L, 201L, day)) // batch 1 arms the horizon
    run()
    ms.addData(Tws.OrderArrival(9L, 202L, day)) // batch 2: horizon already armed
    run()
    ms.addData(Tws.OrderArrival(9L, 203L, t("2024-06-01 00:00:00"))) // passes it
    run()

    val got = spark.read.parquet(outDir)
      .select(col("o_orderkey"), col("n_within"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(201L -> 2L, 202L -> 2L),
      s"one shared horizon must emit both same-date orders, each counting both: $got")
  }
}
