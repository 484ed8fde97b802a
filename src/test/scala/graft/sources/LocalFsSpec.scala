package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The `file:` filesystem installed by `core-site.xml`
  * ([[NioLocalFileSystem]], [[NioLocalFs]]): every Hadoop
  * `Configuration` resolves to it, Spark's writes, reads and streaming
  * checkpoints through it start no child process, and what it leaves on
  * disk is what stock `RawLocalFileSystem` leaves.
  */
class LocalFsSpec extends AnyFunSuite {

  /** The command lines of every process the JVM started during `body`.
    * A stopped `Recording` holds every event committed before the stop,
    * so nothing started inside `body` can be missed.
    */
  private def processStarts(body: => Unit): Seq[String] = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("graft_jfr", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  /** Spark deletes its own scratch directories (a collected session's
    * artifact directory, a stopped context's block manager) with
    * `rm -rf`, on whichever thread reclaims them; that is neither
    * filesystem work nor caused by the body being recorded.
    */
  private def sparkCleanup(cmd: String): Boolean =
    cmd.startsWith("rm -rf ") &&
      Seq("/artifacts-", "/blockmgr-", "/userFiles-").exists(cmd.contains)

  private def stock(): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def nio(): NioRawLocalFileSystem = {
    val fs = new NioRawLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** A session as a benchmark or an application builds it: a plain
    * `SparkSession.builder()`, none of the engine's settings. In a JVM whose context
    * already runs, it is a new session on that context.
    */
  private def withPlainSession(body: SparkSession => Unit): Unit = {
    val shared = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder().master("local[2]").appName("graft-localfs-test").getOrCreate()
      body(s)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("file: resolves to the fork-free classes in bare and session Configurations") {
    withPlainSession { spark =>
      for (conf <- Seq(new Configuration(), spark.sessionState.newHadoopConf(),
          spark.sparkContext.hadoopConfiguration)) {
        val fs = FileSystem.get(new URI("file:///"), conf)
        assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
        assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
        assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
        val afs = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
        assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
      }
    }
  }

  test("a plain session's partitioned parquet round trip and file-source stream start no process") {
    withPlainSession { spark =>
      import spark.implicits._
      val root = Files.createTempDirectory("graft_localfs")
      try {
        // once outside the recording: the JVM's one-time process starts
        // (Hadoop's `Shell` probes, a first job's set-up) are not per file
        spark.range(10).write.parquet(root.resolve("warm").toString)
        val in = Files.createDirectories(root.resolve("in"))
        val starts = processStarts {
          val df = spark.range(200).selectExpr("id", "id % 4 AS p", "cast(id AS string) AS s")
          df.write.partitionBy("p").parquet(root.resolve("parts").toString)
          val back = spark.read.parquet(root.resolve("parts").toString)
          assert(back.count() == 200L)
          assert(back.where("p = 3").selectExpr("sum(id)").as[Long].head() == (3L until 200L by 4L).sum)

          Files.write(in.resolve("a.txt"), "a\nb\n".getBytes("UTF-8"))
          Files.write(in.resolve("b.txt"), "c\n".getBytes("UTF-8"))
          val q = spark.readStream.option("maxFilesPerTrigger", "1").text(in.toString)
            .writeStream.format("parquet")
            .option("checkpointLocation", root.resolve("ckpt").toString)
            .trigger(Trigger.AvailableNow())
            .start(root.resolve("sink").toString)
          try q.awaitTermination() finally q.stop()
          assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "expected two micro-batches")
          assert(spark.read.parquet(root.resolve("sink").toString).count() == 3L)
        }
        val forks = starts.filterNot(sparkCleanup)
        assert(forks.isEmpty, s"process starts: ${forks.mkString("; ")}")
      } finally graft.Fs.deleteRecursively(root.toString)
    }
  }

  test("setPermission leaves the mode bits stock chmod leaves") {
    val root = Files.createTempDirectory("graft_localfs")
    try {
      val (s, n) = (stock(), nio())
      for (m <- Seq("0000", "0600", "0644", "0700", "0755", "0777")) {
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        val a = Files.createFile(root.resolve(s"stock-$m"))
        val b = Files.createFile(root.resolve(s"nio-$m"))
        s.setPermission(new Path(a.toUri), perm)
        n.setPermission(new Path(b.toUri), perm)
        assert(mode(b) == mode(a), m)
      }
    } finally graft.Fs.deleteRecursively(root.toString)
  }

  test("a sticky-bit mode takes stock's chmod") {
    val root = Files.createTempDirectory("graft_localfs")
    try {
      val (a, b) = (Files.createDirectory(root.resolve("stock")), Files.createDirectory(root.resolve("nio")))
      val perm = new FsPermission(Integer.parseInt("1755", 8).toShort)
      stock().setPermission(new Path(a.toUri), perm)
      val starts = processStarts(nio().setPermission(new Path(b.toUri), perm))
      assert(starts.count(_.startsWith("chmod 1755")) == 1, starts)
      assert(mode(b) == mode(a))
      assert(Files.getAttribute(b, "unix:mode").asInstanceOf[Int] ==
        Files.getAttribute(a, "unix:mode").asInstanceOf[Int])
    } finally graft.Fs.deleteRecursively(root.toString)
  }

  test("getFileLinkStatus agrees with stock on a file, a directory, a symlink and a missing path") {
    val root = Files.createTempDirectory("graft_localfs")
    try {
      val file = Files.write(root.resolve("f"), "xyz".getBytes("UTF-8"))
      val dir = Files.createDirectory(root.resolve("d"))
      val link = Files.createSymbolicLink(root.resolve("l"), file)
      val (s, n) = (stock(), nio())
      def view(st: FileStatus) =
        (st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen, st.getModificationTime,
          if (st.isSymlink) Some(st.getSymlink) else None)
      // both path forms: stock finds a link only through the unqualified one
      for (p <- Seq(file, dir, link); path <- Seq(new Path(p.toUri), new Path(p.toString)))
        assert(view(n.getFileLinkStatus(path)) == view(s.getFileLinkStatus(path)), path)
      assert(n.getFileLinkStatus(new Path(link.toString)).isSymlink)
      for (path <- Seq(new Path(root.resolve("missing").toUri), new Path(root.resolve("missing").toString))) {
        intercept[FileNotFoundException](s.getFileLinkStatus(path))
        intercept[FileNotFoundException](n.getFileLinkStatus(path))
      }
    } finally graft.Fs.deleteRecursively(root.toString)
  }

  test("Spark's files get 0644 and its directories 0755 under the default umask 022") {
    withPlainSession { spark =>
      val root = Files.createTempDirectory("graft_localfs")
      try {
        val out = root.resolve("out")
        spark.range(50).selectExpr("id", "id % 3 AS p").write.partitionBy("p").parquet(out.toString)
        val all = Files.walk(out).iterator.asScala.toSeq
        assert(all.exists(_.getFileName.toString.endsWith(".crc")))
        all.foreach { p =>
          assert(mode(p) == (if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"), p)
        }
      } finally graft.Fs.deleteRecursively(root.toString)
    }
  }
}
