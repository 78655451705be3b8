package graft.io

import java.net.URI
import java.nio.file.attribute.PosixFilePermissions
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

import graft.streaming.{Pipelines, RateDedupPipeline}
import graft.{Engine, SparkSpec}

/** The fork-free local filesystem [[Engine.session]] installs: the same
  * files, mode bits and renames as Hadoop's stock local filesystem, and no
  * process started on the streaming commit paths. */
class LocalFsSpec extends SparkSpec {

  /** Hadoop conf with the engine's filesystem keys (or without, `stock`). */
  private def hadoopConf(stock: Boolean, umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (!stock) Engine.LocalFsConf.foreach { case (k, v) => c.set(k.stripPrefix("spark.hadoop."), v) }
    c
  }
  private def raw(fs: RawLocalFileSystem, conf: Configuration = hadoopConf(stock = true)) = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }
  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hp(p: JPath): Path = new Path(p.toUri)

  test("the engine session resolves file: to the fork-free filesystems") {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
      .getClass == classOf[NioLocalFs])
  }

  test("created files and directories get the stock RawLocalFileSystem's mode bits") {
    val dir = Files.createTempDirectory("localfs-mode")
    val perms = Seq(None, Some("664"), Some("751"), Some("700"))
    for (umask <- Seq("022", "002", "077"); (perm, i) <- perms.zipWithIndex) {
      val conf = hadoopConf(stock = true, umask)
      def make(fs: RawLocalFileSystem, tag: String): Seq[String] = {
        val file = dir.resolve(s"$tag-$umask-$i.f")
        val sub = dir.resolve(s"$tag-$umask-$i.d")
        perm match {
          case None =>
            fs.create(hp(file)).close()
            fs.mkdirs(hp(sub))
          case Some(m) =>
            fs.create(hp(file), new FsPermission(m), true, 4096, 1.toShort, 1L << 20, null).close()
            fs.mkdirs(hp(sub), new FsPermission(m))
        }
        Seq(mode(file), mode(sub))
      }
      assert(make(raw(new NioRawLocalFileSystem, conf), "nio") == make(raw(new RawLocalFileSystem, conf), "stock"),
        s"umask $umask, permission $perm")
    }
  }

  test("a FileContext OVERWRITE rename replaces the target and its .crc, same files as the stock LocalFs") {
    def renameIn(stock: Boolean): Seq[(String, String)] = {
      val dir = Files.createTempDirectory("localfs-rename")
      val fc = FileContext.getFileContext(dir.toUri, hadoopConf(stock))
      def write(name: String, body: String): Unit = {
        val out = fc.create(hp(dir.resolve(name)), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      write("src", "new contents")
      write("dst", "old")
      fc.rename(hp(dir.resolve("src")), hp(dir.resolve("dst")), Options.Rename.OVERWRITE)
      // a checksummed read fails if the old target's .crc had survived
      val in = fc.open(hp(dir.resolve("dst")))
      try assert(new String(in.readAllBytes(), "UTF-8") == "new contents") finally in.close()
      Files.list(dir).iterator().asScala.map(p => p.getFileName.toString -> mode(p)).toSeq.sorted
    }
    val files = renameIn(stock = false)
    assert(files.map(_._1) == Seq(".dst.crc", "dst"))
    assert(files == renameIn(stock = true))
  }

  test("getFileLinkStatus on a real symlink still reports the link and its target") {
    val dir = Files.createTempDirectory("localfs-link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    // schemeless, so the stock class's readlink sees a real path
    val p = new Path(link.toString)
    val status = raw(new NioRawLocalFileSystem).getFileLinkStatus(p)
    assert(status.isSymlink)
    assert(status.getSymlink.toUri.getPath == target.toString)
    assert(status.getSymlink == raw(new RawLocalFileSystem).getFileLinkStatus(p).getSymlink)
    assert(!raw(new NioRawLocalFileSystem).getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a sticky-bit setPermission still applies every bit") {
    val shared = Files.createDirectory(Files.createTempDirectory("localfs-sticky").resolve("shared"))
    raw(new NioRawLocalFileSystem).setPermission(hp(shared),
      new FsPermission(Integer.parseInt("1777", 8).toShort))
    assert((Files.getAttribute(shared, "unix:mode").asInstanceOf[Int] & 0xfff) == Integer.parseInt("1777", 8))
  }

  /** Process starts made through Hadoop's `Shell` while `body` runs. */
  private def shellProcesses(body: => Unit): Seq[RecordedEvent] = {
    val recording = new Recording()
    val file = Files.createTempFile("localfs", ".jfr")
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      try body finally recording.stop()
      recording.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" && e.getStackTrace != null &&
          e.getStackTrace.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))
      }
    } finally {
      recording.close()
      Files.deleteIfExists(file)
    }
  }

  test("a checkpointed graft-rate -> dedup -> parquet pipeline starts no Hadoop Shell process") {
    val root = Files.createTempDirectory("localfs-pipeline")
    // the recording sees the stock filesystem's chmod
    val stock = shellProcesses(raw(new RawLocalFileSystem).mkdirs(hp(root.resolve("stock"))))
    assert(stock.exists(_.getString("command").startsWith("chmod")))

    val pipes = new Pipelines(root.resolve("ck").toString)
    val sink = root.resolve("sink")
    val forks = shellProcesses {
      val q = RateDedupPipeline.start(spark, pipes, "fork_free", sink, RateDedupPipeline.options(1))
      try RateDedupPipeline.awaitBatches(q, 3) finally pipes.stop("fork_free")
    }
    assert(forks.isEmpty, forks.map(_.getString("command")).mkString("; "))
    assert(spark.read.parquet(sink.toString).count() > 0)
  }
}
