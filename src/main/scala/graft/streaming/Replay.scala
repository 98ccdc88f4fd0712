package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** Deterministic replay harness: drive a Structured Streaming pipeline
  * over the driver's static parquet testdata and run it to completion.
  *
  * The reference replays Kafka topics; here the same pipelines read the
  * testdata through the *file* streaming source (fully distributed — the
  * scan, the stateful operators and the sink all run executor-side; the
  * driver never holds rows). Each replay builds a temp source directory
  * containing
  *
  *   - a symlink to the real `<table>.parquet` (no data copy), and
  *   - a one-row far-future *sentinel* file (event time 2100-01-01,
  *     negative keys).
  *
  * The sentinel drives every watermark past all real event time, so
  * append-mode operators (windowed aggregations, stream-stream outer
  * joins, dedup state) emit ALL results for the real data before
  * `Trigger.AvailableNow` stops the query — making the replay
  * deterministic and oracle-checkable. Callers filter the sentinel's
  * own rows out of the read-back (negative key / far-future window).
  *
  * At production scale the same pipelines run unchanged on an unbounded
  * source (Kafka / files-in-arrival-order); the sentinel trick is only
  * the finite-replay analog of "the watermark eventually passes".
  */
object Replay {

  /** State-store provider for BIG-state replay queries: RocksDB
    * instead of the default HDFS-backed in-memory map. The stream-
    * stream joins and the buffered-allocation replay hold the full
    * corpus in keyed state until the sentinel flushes it, and at
    * production scale (the 100 s range, but 100× the per-window rows)
    * that state outgrows executor heap — RocksDB keeps it off-heap
    * with spill-to-disk, which is the provider a 1000-executor
    * deployment runs for such queries. Measured (round 4→5): RocksDB
    * cut st09 18.0→5.8 s and st10 26.9→17.9 s, but its per-batch
    * commit/snapshot overhead cost the SMALL-state replays 1.3-1.9×
    * (st01/st03/st08/st11 hold a few thousand tiny entries) — so the
    * provider is chosen PER QUERY via `bigState`, not blanket: the
    * default in-memory provider for small keyed state, RocksDB where
    * state scales with the corpus. Set per-session before a streaming
    * query starts (the conf is read at query start).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  val DefaultProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private def stateProvider(spark: SparkSession, bigState: Boolean): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      if (bigState) RocksDbProvider else DefaultProvider)
    // r18 optimization (guide §5 — per-task state cost): two RocksDB
    // state-layout settings for the big-state replays, both
    // production-documented and value-neutral (results unchanged):
    //  - join stateFormatVersion 3 (Spark 4.x): a stream-stream join
    //    keeps ONE RocksDB store per partition with virtual column
    //    families instead of FOUR separate stores (keyToNumValues +
    //    keyWithIndexToValue per side) — the per-batch fixed cost
    //    (open/commit/snapshot/maintenance per store instance) drops
    //    4×, and at production partition counts so does the
    //    state-store file count. The version is pinned into each NEW
    //    checkpoint's offset-log metadata; a deployed v2 checkpoint
    //    keeps v2 on restart, so no restore contract is broken — new
    //    deployments simply start on the cheaper layout. Measured
    //    here (isolated min-of-two at sf0.1, quiet host, with
    //    trackTotalNumberOfRows=false): st02+st05+st10+st113
    //    34.5 s → see OPTIMIZATION_r18.md.
    //  - trackTotalNumberOfRows=false: RocksDB maintains the
    //    numTotalStateRows metric by pairing every put/delete with a
    //    get; switching it off removes that read amplification on
    //    every state write (the documented production setting for
    //    write-heavy stateful jobs). Observability trade only — the
    //    metric reads -1; no spec or query consumes it for RocksDB
    //    replays. Scoped to bigState so the small-state (HDFS
    //    provider) replays and the MemoryStream specs keep full
    //    metrics.
    if (bigState) {
      spark.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    } else {
      spark.conf.set("spark.sql.streaming.join.stateFormatVersion", "2")
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    }
    // Changelog checkpointing MEASURED AND REJECTED for this harness
    // (round 15): committing only the batch's changes instead of a
    // full RocksDB snapshot per micro-batch is the production setting
    // when the checkpoint lives on a REMOTE store (S3/HDFS), where the
    // snapshot upload is the commit bottleneck. Here the checkpoint is
    // local disk — the "upload" is a cheap local copy — and enabling
    // it made every big-state heavy SLOWER (targeted min-of-two at
    // sf0.1, back-to-back: st02 11.3→13.2 s, st10 11.9→14.2 s,
    // st18 14.5→17.3 s, st28 9.4→10.6 s; the changelog write is pure
    // added work when snapshots are already local). A real cluster
    // deployment checkpointing to object storage SHOULD flip
    // spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing
    // .enabled=true; this harness correctly leaves it default-off.
  }

  /** Temp dir holding the data as `a_data_NNNN.parquet` symlinks + the
    * sentinel as `z_sentinel.parquet`, with increasing mtimes so the
    * file source's oldest-first ordering sees the data first.
    *
    * `src` may be a single parquet FILE (the driver testdata shape) or
    * a Spark-written DIRECTORY (spec fixtures): the file streaming
    * source does not recurse into plain subdirectories, so a directory
    * target must be flattened to per-part-file symlinks — a symlink to
    * the directory itself is silently ignored and the replay would
    * deliver only the sentinel.
    */
  /** Eager directory listing that CLOSES the underlying
    * DirectoryStream (a bare `Files.list` leaks one directory fd per
    * call, and one JVM runs dozens of replays).
    */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList
    } finally s.close()
  }

  def streamDir(src: String, sentinel: DataFrame): Path = {
    val dir = Paths.get(graft.Tables.scratchDir("graft_stream_"))
    val srcPath = Paths.get(src)
    val parts: Seq[Path] =
      if (Files.isDirectory(srcPath)) {
        listDir(srcPath)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
      } else Seq(srcPath)
    parts.zipWithIndex.foreach { case (p, i) =>
      val ln = dir.resolve(f"a_data_$i%04d.parquet")
      Files.createSymbolicLink(ln, p)
      Files.setLastModifiedTime(ln, FileTime.fromMillis(1000000L + i))
    }
    val tmp = Paths.get(graft.Tables.scratchDir("graft_sentinel_"))
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp).find(_.toString.endsWith(".parquet")).get
    Files.copy(part, dir.resolve("z_sentinel.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dir.resolve("z_sentinel.parquet"), FileTime.fromMillis(2000000L))
    dir
  }

  /** Open `<sfDir>/<table>.parquet` as a file-source stream (with the
    * sentinel appended) using the table's batch schema.
    *
    * The sentinel is ALIGNED to the source's physical schema before it
    * is written: driver testdata generations have shipped event time as
    * TIMESTAMP(NANOS) (a long under `nanosAsLong`) and as
    * TIMESTAMP(MICROS) NTZ, and a parquet file source rejects a file
    * whose column type differs from the declared schema — so the
    * sentinel builders pin ONE generation's shape and this conversion
    * makes the harness generation-proof (sessions pin UTC, so the
    * timestamp casts are value-preserving).
    */
  def tableStream(spark: SparkSession, sfDir: String, table: String,
                  sentinel: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val src = s"$sfDir/$table.parquet"
    val schema = spark.read.parquet(src).schema
    val aligned = sentinel.select(schema.fields.map { f =>
      val c = col(f.name)
      val have = sentinel.schema(f.name).dataType
      val conv = (have, f.dataType) match {
        case (a, b) if a == b => c
        case (LongType, TimestampNTZType) => // raw nanos → µs NTZ
          timestamp_micros(expr(s"${f.name} div 1000")).cast(TimestampNTZType)
        case (LongType, TimestampType) => // raw nanos → µs
          timestamp_micros(expr(s"${f.name} div 1000"))
        case (TimestampNTZType, LongType) => // µs NTZ → raw nanos
          unix_micros(c.cast(TimestampType)) * 1000
        case (TimestampType, LongType) => // µs → raw nanos
          unix_micros(c) * 1000
        case (a @ (TimestampType | TimestampNTZType | DateType), b) =>
          // A generic cast from a timestamp yields epoch SECONDS — a silent
          // 1e9-scale error against a nanos-long generation. Refuse instead.
          throw new IllegalStateException(
            s"unhandled sentinel timestamp alignment ${f.name}: $a -> $b")
        case _ => c.cast(f.dataType)
      }
      conv.as(f.name)
    }.toSeq: _*)
    spark.readStream.schema(schema).parquet(streamDir(src, aligned).toString)
  }

  /** The one place a streaming query starts: every `st*` replay and
    * every serving writer reaches `start()` through here. It selects
    * the state provider ([[stateProvider]]), allocates the checkpoint
    * through `Tables.scratchDir` ON THE CALLING THREAD unless the
    * caller pins one (the kill/resume specs restart over an explicit
    * checkpoint; `StateLockSpec` discovers the allocated ones by their
    * `graft_cp_` prefix and creation order), and waits: AvailableNow
    * plus `awaitTermination`, or — `drained` — no trigger and
    * [[runUntilDrained]] for the processing-time TTL replay.
    *
    * `standing` lists the static artifacts the query `persist()`ed for
    * its stream-static joins; they are unpersisted when the query ends
    * on ANY path. A failed query must not keep its cached blocks:
    * `Verify` and `Bench` catch the failure and carry on in the same
    * session.
    */
  private def run(spark: SparkSession, writer: DataStreamWriter[Row],
                  bigState: Boolean, checkpoint: Option[String],
                  drained: Boolean, standing: Seq[DataFrame]): Unit =
    try {
      stateProvider(spark, bigState)
      val w = writer.option("checkpointLocation",
        checkpoint.getOrElse(graft.Tables.scratchDir("graft_cp_")))
      val q = (if (drained) w else w.trigger(Trigger.AvailableNow())).start()
      if (drained) runUntilDrained(q) else q.awaitTermination()
    } finally standing.foreach(_.unpersist())

  /** Run an append-mode streaming DataFrame to completion through a
    * parquet sink, then return a batch scan of the result. Checkpoint +
    * output live in fresh scratch dirs (GC'd at JVM exit), so every
    * replay is independent and repeatable. `bigState = true` selects
    * RocksDB for queries whose keyed state scales with the corpus (see
    * [[RocksDbProvider]]); `standing` as in [[run]].
    */
  def runAppend(spark: SparkSession, out: DataFrame,
                bigState: Boolean = false,
                standing: Seq[DataFrame] = Nil): DataFrame = {
    val outDir = graft.Tables.scratchDir("graft_sink_")
    run(spark, out.writeStream.format("parquet").option("path", outDir)
      .outputMode("append"), bigState, None, drained = false, standing)
    spark.read.parquet(outDir)
  }

  /** Stop rule for PROCESSING-TIME-mode `transformWithState` replays
    * (st116's TTL cache): in that time mode the operator requests a
    * follow-up batch after EVERY batch so TTL/timer horizons can
    * advance, which makes both `Trigger.AvailableNow` and
    * `processAllAvailable()` spin on empty batches forever (observed:
    * 1000+ empty commits). The finite-replay termination condition is
    * the SOURCE's, not the engine's: poll the query's progress until
    * every source reports endOffset == latestOffset — all available
    * input is committed; empty TTL-advance batches cannot add input —
    * then stop. Restart-safe: the check reads offsets, so a resumed
    * run that first re-executes a pending empty batch still waits for
    * the new data to commit.
    */
  def runUntilDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
                      timeoutMs: Long = 600000L): Unit = {
    // Drained = this run has consumed at least one input row (every
    // replay has data — the sentinel guarantees it — and a resumed run
    // may first re-execute a pending EMPTY batch from the offset log,
    // so a bare zero-row progress is not proof the new data was read),
    // the latest completed batch read zero rows, and any source that
    // reports a latestOffset is caught up to it (MemoryStream reports
    // null; the file source reports real offsets).
    //
    // `sawData` LATCHES across polls: recentProgress is a bounded ring
    // (default 100 entries), so under ProcessingTime's continuous
    // empty TTL-advance batches the one data-bearing entry can be
    // evicted between polls — re-scanning the ring each iteration
    // would then never observe it and the loop would spin forever.
    // A hard wall-clock deadline turns any residual hang into a loud
    // failure instead of a stuck Verify/Bench run.
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var sawData = false
    var drained = false
    while (!drained) {
      if (System.nanoTime() > deadline) {
        val last = Option(q.lastProgress).map(_.json).getOrElse("null")
        q.stop()
        throw new IllegalStateException(
          s"runUntilDrained: query not drained after ${timeoutMs}ms " +
          s"(sawData=$sawData, lastProgress=$last)")
      }
      Thread.sleep(100)
      val ps = q.recentProgress
      if (ps.nonEmpty) {
        if (ps.exists(_.numInputRows > 0)) sawData = true
        val caughtUp = ps.last.sources.forall(s =>
          s.latestOffset == null || s.endOffset == s.latestOffset)
        drained = sawData && ps.last.numInputRows == 0 && caughtUp
      }
    }
    q.stop()
    q.awaitTermination()
  }

  /** Run a streaming DataFrame to completion through `foreachBatch`
    * (the reference's per-batch sink shape — SURVEY §2 K2/K5); the
    * caller's function receives every micro-batch. `outputMode` is
    * `append` or `update`; `checkpoint` pins the checkpoint for a
    * kill/resume pair; `drained` and `standing` as in [[run]].
    */
  def runForeachBatch(spark: SparkSession, out: DataFrame,
                      bigState: Boolean = false,
                      outputMode: String = "append",
                      checkpoint: Option[String] = None,
                      drained: Boolean = false,
                      standing: Seq[DataFrame] = Nil)(
      f: (DataFrame, Long) => Unit): Unit =
    run(spark, out.writeStream.outputMode(outputMode).foreachBatch(f),
      bigState, checkpoint, drained, standing)

  // ------------------------------------------------------------------
  // sentinels (schemas mirror TESTDATA.md; keys negative, far-future
  // event time so downstream filters can drop them)
  // ------------------------------------------------------------------

  /** 2100-01-01T00:00:00Z in the events table's raw nanosecond longs. */
  val SentinelNanos = 4102444800000000000L

  def eventsSentinel(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(-1L).as("event_id"),
      lit(SentinelNanos).as("ts"),
      lit(-1L).as("user_id"),
      lit("__sentinel").as("event_type"),
      lit(0.0).as("value"),
      lit("{}").as("props"))

  def ordersSentinel(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(-1L).as("o_orderkey"), lit(-1L).as("o_custkey"),
      lit("X").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
      lit("2100-01-01").cast("timestamp_ntz").as("o_orderdate"),
      lit("X").as("o_orderpriority"))

  def embeddingsSentinel(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(-1L).as("vec_id"),
      array_repeat(lit(0.5f), 64).as("embedding"),
      lit(-1).as("label"))

  def documentsSentinel(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(-1L).as("doc_id"), lit("x").as("text"), lit("x").as("lang"),
      lit("x").as("source"), lit(1L).as("n_chars"))

  def lineitemSentinel(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit(-1L).as("l_orderkey"), lit(-1L).as("l_partkey"), lit(-1L).as("l_suppkey"),
      lit(-1).as("l_linenumber"), lit(0.0).as("l_quantity"), lit(0.0).as("l_extendedprice"),
      lit(0.0).as("l_discount"), lit(0.0).as("l_tax"), lit("X").as("l_returnflag"),
      lit("X").as("l_linestatus"),
      lit("2100-01-01").cast("timestamp_ntz").as("l_shipdate"))

  /** events stream with `ts` rebuilt to TimestampType (see
    * [[graft.Tables.events]] — parquet TIMESTAMP(NANOS) arrives as a
    * long under `nanosAsLong`).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = tableStream(spark, sfDir, "events", eventsSentinel(spark))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** orders stream with `o_orderdate` cast to TIMESTAMP (watermarks
    * reject TIMESTAMP_NTZ; the session is pinned to UTC so the cast is
    * value-preserving).
    */
  def ordersStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "orders", ordersSentinel(spark))
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))

  /** lineitem stream with `l_shipdate` cast to TIMESTAMP. */
  def lineitemStream(spark: SparkSession, sfDir: String): DataFrame =
    tableStream(spark, sfDir, "lineitem", lineitemSentinel(spark))
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
}
