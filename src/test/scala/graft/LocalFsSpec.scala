package graft

import graft.streaming.ArchiveStream
import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import scala.jdk.CollectionConverters._

/** The in-process local filesystem (LocalFs.scala): `file:` resolves to it
  * for both Hadoop APIs, it keeps Hadoop's modes and link semantics, and
  * the archiver no longer forks a process per created file.
  */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def localFs = FileSystem.get(URI.create("file:///"), conf)
  private def mode(p: java.nio.file.Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)

  test("file: resolves to the in-process classes for FileSystem and FileContext") {
    assert(localFs.isInstanceOf[InProcessLocalFileSystem], localFs.getClass)
    val fc = FileContext.getFileContext(conf).getDefaultFileSystem
    assert(fc.isInstanceOf[InProcessLocalFs], fc.getClass)
  }

  test("setPermission and mkdirs leave exact 0644 and 0755 modes") {
    val dir = Files.createTempDirectory("graft-perm-")
    val f = Files.createFile(dir.resolve("f"))
    Files.setPosixFilePermissions(f, PosixFilePermissions.fromString("rwx-w----"))
    localFs.setPermission(new Path(f.toUri), octal("644"))
    assert(mode(f) == "rw-r--r--")
    localFs.setPermission(new Path(dir.toUri), octal("700"))
    assert(mode(dir) == "rwx------")
    localFs.setPermission(new Path(dir.toUri), octal("755"))
    assert(mode(dir) == "rwxr-xr-x")
    val sub = dir.resolve("sub")
    assert(localFs.mkdirs(new Path(sub.toUri), octal("755")))
    assert(mode(sub) == "rwxr-xr-x")
    intercept[FileNotFoundException] {
      localFs.setPermission(new Path(dir.resolve("missing").toUri), octal("644"))
    }
  }

  test("getFileLinkStatus: a missing path throws, a real symlink is a symlink") {
    val dir = Files.createTempDirectory("graft-link-")
    intercept[FileNotFoundException] {
      localFs.getFileLinkStatus(new Path(dir.resolve("missing").toUri))
    }
    val target = Files.write(dir.resolve("t"), "abc".getBytes("UTF-8"))
    val plain = localFs.getFileLinkStatus(new Path(target.toUri))
    assert(!plain.isSymlink && plain.isFile && plain.getLen == 3)
    // Hadoop's readlink needs the bare path, so the link is named without
    // the file: scheme
    val link = Files.createSymbolicLink(dir.resolve("l"), target)
    val st = localFs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink.toUri.getPath == target.toString)
  }

  test("archiver micro-batches start no processes, compaction included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-nofork-").toString + "/a"
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"), compactEvery = 6)
    def batch(i: Int): Unit = {
      mem.addData((0 until 50).map { j =>
        ((i * 50 + j).toLong, Timestamp.valueOf(f"2024-01-02 09:$i%02d:$j%02d"), s"r$i.$j")
      }: _*)
      q.processAllAvailable()
    }
    try {
      batch(0) // warm-up: first-use class loading and state-store set-up
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try (1 to 6).foreach(batch) finally rec.stop()
      val dump = Files.createTempFile("graft-nofork-", ".jfr")
      rec.dump(dump)
      rec.close()
      val starts = RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
      assert(starts.isEmpty, s"${starts.size} process starts, e.g. " +
        starts.take(3).map(_.getString("command")).mkString("; "))
      // batch 5 compacted the six per-batch files into one; batch 6 added one
      val files = new java.io.File(out + "/d=2024-01-02").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 2, s"expected one compacted file plus one append, found $files")
      assert(spark.read.parquet(out).count() == 7 * 50)
    } finally q.stop()
  }
}
