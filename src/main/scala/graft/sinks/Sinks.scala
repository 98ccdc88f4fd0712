package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Sink layer — the Spark-native re-expression of the reference's sink
  * surface (SURVEY.md §2 K1–K7). The reference wires exactly-once by
  * hand (Phoenix upserts, ES doc-id writes, MySQL transactions holding
  * result + offsets); here the same guarantees come from Structured
  * Streaming checkpoints (offset log) + idempotent `foreachBatch`
  * writers keyed by `batchId`:
  *
  *  - [[KeyedUpsertTable]] — K2 (keyed upsert, Phoenix analog) and K5
  *    (transactional result+offset commit: the atomic commit marker
  *    plays the MySQL transaction; the checkpoint plays the offset
  *    table). Restart-safe: a replayed batch merges against the same
  *    base version and rewrites the same output, so duplicates are
  *    impossible (proven by `SinkSpec`).
  *  - [[IdempotentBatchAppend]] — K3 (append idempotent by identity,
  *    ES doc-id analog): each batch owns a deterministic directory,
  *    replay overwrites it byte-for-byte instead of duplicating.
  *  - [[Sinks.kafkaSink]] — K1 (config-only here: the kafka connector
  *    jar is a deploy-time dependency).
  *  - [[Sinks.console]] — K7 debug sink.
  *
  * K6 (offset save) needs no code: `checkpointLocation` subsumes it.
  */
object Sinks {

  /** K1 — Kafka sink options (ref utils/MykafkaUtil.scala:83-105
    * producer). The DataFrame must expose `key`/`value` columns.
    */
  def kafkaSink(brokers: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> brokers, "topic" -> topic)

  /** K7 — console/debug sink (ref print-to-stdout debug paths). */
  def console(df: DataFrame, numRows: Int = 20) =
    df.writeStream.format("console").option("numRows", numRows)

  /** TABLE LAYOUT writer — the 100 TB read-side contract: data lands
    * hive-partitioned on the pruning columns (a reader's partition
    * predicate eliminates whole directories before any file is opened)
    * and compacted (`maxRecordsPerFile` bounds file count from above
    * via row bound; the `repartition` on the partition columns bounds
    * it from below — without it every task writes a sliver into every
    * partition, the classic small-file explosion that makes a 100 TB
    * table unlistable). Sorting within partitions by `sortCols`
    * tightens per-file min/max stats so row-group skipping works on
    * the sort key even within a partition.
    *
    * `PlanSpec` proves the contract on read-back: a partition
    * predicate shows up as `PartitionFilters` with only matching
    * directories scanned, and file counts equal the partition count
    * (one compacted file each) for the fixture volume.
    */
  /** OBJECT-STORE EXPORT — one raw binary file per row, written
    * EXECUTOR-SIDE (`foreachPartition` + the Hadoop FileSystem API;
    * there is no declarative Spark writer for one-object-per-file
    * layouts, and collecting payloads to the driver is the
    * anti-pattern this sink exists to avoid). This is the lake layout
    * multimodal corpora actually land in — one image/audio object per
    * key — and the write is idempotent by construction: the name is
    * the key, the bytes are a pure function of the row, and re-running
    * overwrites the same file with the same content (crash-replay safe
    * without markers). Expects exactly (name STRING, content BINARY).
    *
    * The writes go through `Path.getFileSystem(hadoopConf)` — the
    * session's Hadoop configuration is broadcast so each executor
    * resolves the SAME filesystem the driver would (HDFS, S3A, or
    * local URI alike). That is what makes the 100 TB claim true on a
    * real cluster: with an `hdfs://`/`s3a://` path the objects fan
    * out from every executor into shared storage with no driver
    * bottleneck and no shuffle (a bare local path only works when
    * executors share the driver's filesystem, i.e. local mode or a
    * shared mount). The companion read path is Spark's `binaryFile`
    * source (see `s16_binaryfile_source`), whose pushdown prunes on
    * path/length before any content is read.
    */
  def binaryObjects(df: DataFrame, path: String): Unit = {
    val confBc = df.sparkSession.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        df.sparkSession.sessionState.newHadoopConf()))
    df.select(org.apache.spark.sql.functions.col("name"),
        org.apache.spark.sql.functions.col("content"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.hasNext) {
          val dir = new org.apache.hadoop.fs.Path(path)
          val fs = dir.getFileSystem(confBc.value.value)
          fs.mkdirs(dir)
          rows.foreach { r =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(dir, r.getString(0) + ".bin"),
              true)
            try out.write(r.getAs[Array[Byte]](1)) finally out.close()
          }
        }
      }
  }

  /** K9 — Z-ORDERED (clustered) PARQUET WRITER: range-partition on a
    * precomputed clustering key (e.g. [[graft.operators.Layout
    * .morton16]]'s Morton interleave) and sort within each partition,
    * so consecutive files own DISJOINT key intervals and every file's
    * per-column min/max statistics are tight on all clustered
    * dimensions at once — the write-side half of OPTIMIZE ZORDER,
    * whose read-side payoff z02 measures and z04 exercises end to
    * end. `repartitionByRange` samples boundaries (value-
    * NONdeterministic file contents by design — only the interval
    * disjointness is contractual); the in-file sort additionally
    * tightens parquet ROW-GROUP stats, so pruning survives even when
    * files are large enough to hold many row groups. One exchange +
    * per-partition sort, any table size; `nFiles` maps 1:1 to range
    * partitions so file sizing is explicit rather than left to task
    * parallelism.
    */
  def zorderedParquet(df: DataFrame, path: String, zkeyCol: String,
                      nFiles: Int): Unit =
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(zkeyCol))
      .sortWithinPartitions(zkeyCol)
      .write.mode("overwrite").parquet(path)

  def partitionedParquet(df: DataFrame, path: String,
                         partitionCols: Seq[String],
                         sortCols: Seq[String] = Nil,
                         maxRecordsPerFile: Long = 1000000L): Unit = {
    val pcols = partitionCols.map(org.apache.spark.sql.functions.col)
    val arranged = {
      val re = df.repartition(pcols: _*)
      if (sortCols.nonEmpty)
        re.sortWithinPartitions((partitionCols ++ sortCols)
          .map(org.apache.spark.sql.functions.col): _*)
      else re
    }
    arranged.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode("overwrite")
      .parquet(path)
  }

  /** K4 — JDBC append sink options (ref dws/OrderWiderApp.scala:215-216
    * ClickHouse append, batchsize 100 / 4 partitions). Used inside
    * `foreachBatch { (b, _) => b.write.format("jdbc").options(...)
    * .mode("append").save() }`; config-only here (driver jar is a
    * deploy-time dependency).
    */
  def jdbcAppend(url: String, table: String, batchSize: Int = 10000,
                 numPartitions: Int = 8): Map[String, String] =
    Map(
      "url" -> url,
      "dbtable" -> table,
      "batchsize" -> batchSize.toString,
      "numPartitions" -> numPartitions.toString,
      "isolationLevel" -> "NONE") // append-only bulk load: skip txn overhead
}

/** A versioned, keyed parquet table maintained by an idempotent
  * `foreachBatch` upsert — the K2/K5 exactly-once writer.
  *
  * Layout under `path`:
  * {{{
  *   v=<batchId>/        full table state after applying batch <batchId>
  *   _commits/<batchId>  atomic commit marker (tmp + move)
  * }}}
  *
  * `upsert(batch, id)` merges the batch into the newest state with a
  * SMALLER batch id — never "latest" — so a crashed-and-replayed batch
  * rebuilds exactly the same version instead of double-applying; the
  * commit marker lands only after the data write, making marker
  * presence the transaction boundary (result + progress commit
  * atomically, the reference's MySQL-transaction semantics at
  * ads/TradeMarkAmountApp.scala:59-88).
  *
  * All data movement is DataFrame-level (distributed); the driver only
  * renames marker files. At scale the same pattern targets a real
  * transactional table format; the versioned-directory form keeps the
  * semantics auditable with plain parquet.
  *
  * Within a batch, the surviving row per key is the one with the
  * greatest `orderCol` (ties broken by preferring the new batch over
  * the base) — callers supply a monotonic column (event time, CDC
  * sequence) for deterministic last-writer-wins.
  */
class KeyedUpsertTable(spark: SparkSession, path: String,
                       keyCols: Seq[String], orderCol: String) {

  private val root = Paths.get(path)
  private val commits = root.resolve("_commits")

  def committedBatches: Seq[Long] =
    if (!Files.isDirectory(commits)) Seq.empty
    else {
      val it = Files.list(commits)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator.asScala.map(_.getFileName.toString.toLong).toSeq.sorted
      } finally it.close()
    }

  /** Current table state (empty DataFrame with no schema cannot exist —
    * callers must only read after ≥1 commit).
    */
  def read(): DataFrame = {
    val ids = committedBatches
    require(ids.nonEmpty, s"no committed version under $path")
    spark.read.parquet(root.resolve(s"v=${ids.last}").toString)
  }

  /** Newest committed state with a batch id STRICTLY below `batchId`
    * (None before the first commit) — the version batch `batchId` must
    * read to stay deterministic under at-least-once replay: a crashed-
    * and-replayed batch sees the same pre-batch state whether or not
    * its own upsert already committed (the same reason `upsert` merges
    * against it).
    */
  def readBefore(batchId: Long): Option[DataFrame] =
    committedBatches.filter(_ < batchId).lastOption.map(b =>
      spark.read.parquet(root.resolve(s"v=$b").toString))

  /** The idempotent `foreachBatch` function. */
  def upsert(batch: DataFrame, batchId: Long): Unit = {
    if (committedBatches.contains(batchId)) return // replay of a committed batch
    val base = committedBatches.filter(_ < batchId).lastOption
    val merged = base match {
      case None => dedupe(batch.withColumn("__pri", lit(1)))
      case Some(b) =>
        val cur = spark.read.parquet(root.resolve(s"v=$b").toString)
        dedupe(cur.withColumn("__pri", lit(0))
          .unionByName(batch.withColumn("__pri", lit(1))))
    }
    merged.write.mode("overwrite").parquet(root.resolve(s"v=$batchId").toString)
    SinkFiles.atomicMarker(commits, batchId.toString)
  }

  private def dedupe(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc, col("__pri").desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__pri")
  }

  /** Drop all but the newest `keep` committed versions (state GC). */
  def vacuum(keep: Int = 2): Unit = {
    val ids = committedBatches.dropRight(keep)
    ids.foreach { id =>
      Files.deleteIfExists(commits.resolve(id.toString))
      SinkFiles.deleteRecursively(root.resolve(s"v=$id"))
    }
  }
}

/** Storage-layout sink — THE BUCKETED TABLE MAINTAINED BY THE STREAM:
  * settles whether j15's zero-exchange layout must be a nightly batch
  * build (`writeStream` cannot `bucketBy`). It need not: `foreachBatch`
  * appends each micro-batch into the SAME bucketed table spec — Spark
  * hash-splits every append by the bucket key, later appends add files
  * per bucket, and a bucketed scan reads all of a bucket's files in one
  * task, so the co-located-join property and the bucket pruning BOTH
  * survive incremental maintenance (`SinkSpec` plan-locks zero
  * exchanges over the stream-built table). What narrows is only the
  * per-FILE sort: a multi-file bucket makes the scan's output
  * sort-unknown, so EnsureRequirements re-inserts a local sort before a
  * merge join — a sort, never an exchange; a nightly compaction that
  * rewrites each bucket to one file restores it (j15's build IS that
  * compaction, so the two designs compose: stream maintains, nightly
  * compacts).
  *
  * Replay discipline (r19, closing the r18 advisor's atomicity note —
  * six queries stake their "idempotent by batch id" claim on this
  * class): STAGE-THEN-RENAME. Each batch writes its bucketed files into
  * a batch-scoped staging table first (overwritten wholesale on any
  * retry that did not finish staging), a staged marker is created
  * atomically, and only then are the files RENAMED into the table
  * directory (per-file atomic moves on one filesystem; bucketed file
  * names carry their bucket id and a write-UUID, so moves preserve the
  * bucket layout and cannot collide). Every crash window replays
  * cleanly: before the staged marker → staging is discarded and
  * rewritten, the table untouched; after the staged marker → the staged
  * file SET is frozen, and the move loop is resumable (a file is either
  * still in staging or already in the table — re-delivery moves only
  * what remains, so a crash between the old code's data append and its
  * commit marker can no longer double-append); after the commit
  * marker → the batch skips. The bucketed-scan contract is unchanged:
  * the table is path-based, later batches add files per bucket, and
  * `SinkSpec` plan-locks zero exchanges over the stream-built table.
  */
class BucketedStreamTable(spark: SparkSession, table: String, path: String,
                          buckets: Int, key: String) {
  private val commits = Paths.get(path).resolve("_commits")
  private val staged = Paths.get(path).resolve("_staged")
  private val stageRoot = Paths.get(path).resolve("stage")
  import SinkFiles.{atomicMarker, deleteRecursively}

  /** The idempotent, replay-atomic `foreachBatch` function. */
  def append(batch: DataFrame, batchId: Long): Unit = {
    if (Files.exists(commits.resolve(batchId.toString))) return
    // the catalog entry + schema, created once, data-free: appends land
    // as file renames below, not through the catalog write path
    if (!spark.catalog.tableExists(table))
      batch.limit(0).repartition(buckets, col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", s"$path/data").format("parquet").saveAsTable(table)
    val stageDir = stageRoot.resolve(s"batch=$batchId")
    val stageTable = s"${table}_stage"
    if (!Files.exists(staged.resolve(batchId.toString))) {
      // not (fully) staged: discard any partial attempt and restage
      spark.sql(s"DROP TABLE IF EXISTS $stageTable")
      deleteRecursively(stageDir)
      batch.repartition(buckets, col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key).sortBy(key)
        .option("path", stageDir.toString).format("parquet")
        .saveAsTable(stageTable)
      atomicMarker(staged, batchId.toString)
    }
    // resumable rename pass: whatever is still staged moves exactly once
    val dataDir = Paths.get(path).resolve("data")
    Files.createDirectories(dataDir)
    if (Files.exists(stageDir)) {
      val it = Files.list(stageDir)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator.asScala.toSeq
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .foreach { p =>
            Files.move(p, dataDir.resolve(p.getFileName),
              StandardCopyOption.ATOMIC_MOVE)
          }
      } finally it.close()
    }
    atomicMarker(commits, batchId.toString)
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    deleteRecursively(stageDir)
    // files arrived by rename, not through the catalog write path (which
    // refreshed implicitly) — invalidate the cached file listing
    spark.catalog.refreshTable(table)
  }

  /** The maintained table as a bucketed catalog scan. */
  def read(): DataFrame = spark.table(table)
}

object BucketedStreamTable {

  /** Every stream-maintained bucketed table is 8-way bucketed. */
  private val Buckets = 8

  /** A fresh table over a scratch directory: the path is
    * `graft_bkt_<prefix>_…`, the catalog name `graft_<prefix>_` plus
    * the directory's own unique suffix (dropped first, so a re-run in
    * the same session starts empty).
    */
  def scratch(spark: SparkSession, prefix: String, key: String): BucketedStreamTable = {
    val path = graft.Tables.scratchDir(s"graft_bkt_${prefix}_")
    val tbl = s"graft_${prefix}_" +
      path.split('/').last.replaceAll("[^a-zA-Z0-9_]", "_")
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    new BucketedStreamTable(spark, tbl, path, Buckets, key)
  }
}

/** The file-level commit primitives both versioned sinks share. */
private object SinkFiles {

  /** Create marker `dir/name` atomically: a temp file moved into place,
    * so a reader sees the marker whole or not at all.
    */
  def atomicMarker(dir: Path, name: String): Unit = {
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s".$name", ".tmp")
    Files.move(tmp, dir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      } finally it.close()
    }
}

/** K3 — append sink idempotent by batch identity (the ES doc-id
  * analog, ref utils/MyEsUtil bulk-with-id): every micro-batch writes
  * `batch=<batchId>/` with overwrite, so an at-least-once replay
  * rewrites the same directory instead of appending duplicates.
  * `read()` unions all batch directories.
  */
class IdempotentBatchAppend(spark: SparkSession, path: String) {
  def append(batch: DataFrame, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  def read(): DataFrame = spark.read.parquet(path)
}
