package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free local filesystem (`graft.fs`) answers exactly as stock
  * Hadoop does, is what `file://` resolves to, and keeps a checkpointed
  * stateful query from starting `chmod`/`readlink` processes.
  */
class LocalFsSpec extends SparkSpecBase {

  private def init[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val stock = init(new RawLocalFileSystem)

  /** Commands of the processes this JVM started while `body` ran. */
  private def spawned(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val out = Files.createTempFile("graft_spawn_", ".jfr")
    try {
      r.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
    } finally { r.close(); Files.delete(out) }
  }
  private def forks(cmds: Seq[String]): Seq[String] = cmds.filter { c =>
    val exe = c.trim.split("\\s+").head
    Set("chmod", "readlink").contains(exe.substring(exe.lastIndexOf('/') + 1))
  }

  test("setPermission leaves the same POSIX bits as stock Hadoop") {
    val dir = tmpDir("fs_perm_")
    for (mode <- Seq("0000", "0444", "0600", "0644", "0700", "0755", "0777")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val (a, b) = (Paths.get(dir, s"nio_$mode"), Paths.get(dir, s"stock_$mode"))
      Files.createFile(a); Files.createFile(b)
      nio.setPermission(new Path(a.toString), perm)
      stock.setPermission(new Path(b.toString), perm)
      assert(Files.getPosixFilePermissions(a) === Files.getPosixFilePermissions(b), mode)
    }
  }

  test("getFileLinkStatus matches stock Hadoop on files, dirs and symlinks") {
    val dir = Paths.get(tmpDir("fs_link_"))
    Files.write(dir.resolve("f"), "twelve bytes".getBytes)
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("abs"), dir.resolve("f"))
    Files.createSymbolicLink(dir.resolve("rel"), Paths.get("f"))
    Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("nope"))
    // Stock Hadoop looks the link up at `new File(path.toString)`, so a
    // scheme-qualified path never reads as a link: both forms are compared.
    def view(fs: FileSystem, p: Path) = Try(fs.getFileLinkStatus(p)).map(s =>
      (s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.isDirectory, s.getLen)
    ).toEither.left.map(_.getClass)
    for (name <- Seq("f", "sub", "abs", "rel", "dangling", "missing");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri))) {
      assert(view(nio, p) === view(stock, p), p)
    }
    assert(nio.getFileLinkStatus(new Path(dir.resolve("abs").toString)).isSymlink)
    assert(view(nio, new Path(dir.resolve("missing").toString)) ===
      Left(classOf[FileNotFoundException]))
  }

  test("file:// resolves to the fork-free filesystems") {
    val root = new URI("file:///")
    assert(FileSystem.get(root, new Configuration()).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, spark.sessionState.newHadoopConf()).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, new Configuration())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("a checkpointed stateful query with a parquet sink starts no chmod or readlink") {
    if (!NativeIO.isAvailable) {
      val f = Files.createTempFile("graft_chmod_", "")
      assert(forks(spawned(stock.setPermission(new Path(f.toString),
        new FsPermission(Integer.parseInt("644", 8).toShort)))).nonEmpty,
        "the recording must see the stock filesystem's chmod")
    }
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Int, String)]
    val cp = tmpDir("cp_localfs_")
    val out = tmpDir("sink_localfs_")
    // The default provider: its delta commit is the rename-heavy path.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val provider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, graft.streaming.Replay.DefaultProvider)
    val cmds = try spawned {
      val q = ms.toDF().toDF("k", "v").dropDuplicates("k")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", cp).outputMode("append").start()
      try {
        for (b <- 0 until 3) {
          ms.addData((0 until 10).map(i => (b * 5 + i, s"v$b")): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally provider.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
    assert(forks(cmds).isEmpty, forks(cmds).take(5))
    assert(spark.read.parquet(out).count() === 20L)
    val files = Files.walk(Paths.get(cp)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(files.exists(_.matches("\\d+\\.delta")), "state-store deltas must be committed")
    assert(files.exists(_.matches("\\d+\\.delta\\.crc")), "Spark's checkpoint checksums must be written")
    assert(files.exists(_.matches("\\..+\\.crc")), "Hadoop's .crc files must be written")
  }
}
