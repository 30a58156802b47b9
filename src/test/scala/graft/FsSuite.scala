package graft

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.pipeline.FourCE
import graft.sources.{ForkFreeLocalFileSystem, ForkFreeLocalFs,
  ForkFreeRawLocalFileSystem}
import graft.streaming.StreamRun
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` filesystem (`Sessions.local`): no process per
  * local file, the same modes and link statuses as Hadoop's, and both
  * Hadoop APIs resolve to it; plus `Tables.scratchDir`'s exit cleanup. */
class FsSuite extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def hadoopConf: Configuration = spark.sparkContext.hadoopConfiguration

  private def withDir[T](prefix: String)(body: File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally Tables.deleteTree(dir.toString)
  }

  private def mode(f: File): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(f.toPath))

  test("both Hadoop APIs resolve file: to the fork-free classes") {
    // the file: FileSystem is cached per JVM by scheme and user, not by
    // conf: a bare Configuration must get the session's instance too
    for (conf <- Seq(hadoopConf, spark.sessionState.newHadoopConf(),
        new Configuration())) {
      assert(FileSystem.get(URI.create("file:///"), conf).getClass ===
        classOf[ForkFreeLocalFileSystem])
      assert(FileSystem.getLocal(conf).getClass ===
        classOf[ForkFreeLocalFileSystem])
    }
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem
      .getClass === classOf[ForkFreeLocalFs])
  }

  test("no chmod or readlink process for a CSV write and a stream drain") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    withDir("graft-fs-jfr") { dir =>
      val jfr = new File(dir, "starts.jfr").toPath
      val rec = new Recording()
      val (csvRows, streamRows) = try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        FourCE.writeCsv(spark.range(100).toDF("n"), s"$dir/csv")
        val drained = StreamRun.toTable(spark,
          StreamRun.series(spark).groupBy(($"i" % 10).as("b")).count(),
          "t_fs_forks", "complete")
        val rows = (spark.read.option("header", "true").csv(s"$dir/csv")
          .count(), drained.agg(sum($"count")).head().getLong(0))
        // control: the recording does see a process start
        new ProcessBuilder("true").start().waitFor()
        rec.stop()
        rec.dump(jfr)
        rows
      } finally rec.close()
      assert(csvRows === 100L && streamRows === 50000L)
      // a recording running alongside (-XX:StartFlightRecording) puts
      // its own event types into the dumped chunks
      val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getString("command")))
      assert(commands.contains("true"), commands)
      val perFile = commands.filter(c =>
        c.contains("chmod") || c.contains("readlink"))
      assert(perFile.isEmpty, s"${perFile.size} process starts: $perFile")
    }
  }

  test("created files are 0644 and directories 0755 under umask 022") {
    assert(hadoopConf.get("fs.permissions.umask-mode", "022") === "022")
    withDir("graft-fs-mode") { dir =>
      val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
      fs.mkdirs(new Path(s"$dir/a/b"))
      fs.create(new Path(s"$dir/a/b/f.txt")).close()
      val fc = FileContext.getFileContext(hadoopConf)
      fc.mkdir(new Path(s"$dir/c/d"), FsPermission.getDirDefault, true)
      fc.create(new Path(s"$dir/c/d/g.txt"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE)).close()
      for (d <- Seq("a", "a/b", "c", "c/d"))
        assert(mode(new File(dir, d)) === "rwxr-xr-x", d)
      for (f <- Seq("a/b/f.txt", "c/d/g.txt"))
        assert(mode(new File(dir, f)) === "rw-r--r--", f)
      // the checksummed wrappers still write their side files
      assert(new File(dir, "a/b/.f.txt.crc").isFile)
      assert(new File(dir, "c/d/.g.txt.crc").isFile)
      // the sticky bit has no nio form and takes Hadoop's own path
      val sticky = new Path(s"$dir/a")
      fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8)
        .toShort))
      assert((Files.getAttribute(new File(dir, "a").toPath, "unix:mode")
        .asInstanceOf[Int] & Integer.parseInt("1777", 8)) ===
        Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus matches RawLocalFileSystem on files, links, " +
      "dangling links and missing paths") {
    def open(fs: RawLocalFileSystem): RawLocalFileSystem = {
      fs.initialize(URI.create("file:///"), new Configuration())
      fs
    }
    val hadoop = open(new RawLocalFileSystem)
    val ours = open(new ForkFreeRawLocalFileSystem)
    def view(st: FileStatus) = (st.getPath, st.isFile, st.isDirectory,
      st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None,
      st.getLen, st.getModificationTime, st.getPermission, st.getOwner,
      st.getGroup)
    def linkStatus(fs: RawLocalFileSystem, p: Path) =
      try Right(view(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException =>
        Left((e.getClass, e.getMessage)) }
    withDir("graft-fs-link") { dir =>
      val file = new File(dir, "file.txt")
      Files.write(file.toPath, "x".getBytes)
      val link = new File(dir, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val dangling = new File(dir, "dangling")
      Files.createSymbolicLink(dangling.toPath, Paths.get(s"$dir/gone"))
      val missing = new File(dir, "missing")
      val cases = Seq(file, link, dangling, missing, dir)
      for (f <- cases; p <- Seq(new Path(f.toString),
          new Path(f.toURI.toString))) {
        val expected = linkStatus(hadoop, p)
        assert(linkStatus(ours, p) === expected, p)
      }
      // the cases are what their names say
      assert(linkStatus(hadoop, new Path(link.toString))
        .exists(_._4) && linkStatus(hadoop, new Path(dangling.toString))
        .exists(_._4))
      assert(linkStatus(hadoop, new Path(missing.toString)).left
        .exists(_._1 == classOf[java.io.FileNotFoundException]))
    }
  }

  test("scratch directories are registered and deleted when the JVM exits") {
    val dir = Tables.scratchDir("graft-scratch-test")
    assert(new File(dir).isDirectory && Tables.scratchDirs.contains(dir))
    // a child JVM makes one with a file and a subdirectory, then exits
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val child = new ProcessBuilder(java.toString, "-Xmx64m", "-cp",
        System.getProperty("java.class.path"), "graft.ScratchDirChild")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor() === 0, out)
    val made = out.linesIterator.toSeq.last
    assert(made.contains("graft-scratch-child") && !new File(made).exists,
      out)
  }
}

/** Child JVM of the scratch-dir test: prints a filled scratch directory
  * it made (`Tables.scratchDir`) and exits. */
object ScratchDirChild {
  def main(args: Array[String]): Unit = {
    val dir = Tables.scratchDir("graft-scratch-child")
    Files.createDirectories(Paths.get(dir, "sub"))
    Files.write(Paths.get(dir, "sub", "f.txt"), "x".getBytes)
    require(Tables.scratchDirs.contains(dir))
    println(dir)
  }
}
