package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{ForkFreeLocalFs, ForkFreeRawLocalFileSystem}
import graft.streaming.PerBatch

/** Processes the JVM starts while `body` runs, from JFR's `jdk.ProcessStart`. */
object Forks {
  def during[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      (out, RecordingFile.readAllEvents(f).asScala.toSeq)
    } finally { rec.close(); Files.delete(f) }
  }

  def describe(es: Seq[RecordedEvent]): String =
    es.map(e => s"${e.getThread.getJavaName}: ${e.getString("command")}").mkString("; ")
}

/** `ForkFreeRawLocalFileSystem`'s link calls and `ForkFreeLocalFs` against
  * the stock Hadoop classes they replace.
  */
class ForkFreeFsSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  private def fields(st: FileStatus) = {
    val link = if (st.isSymlink) Some(st.getSymlink) else None
    (st.getPath, link, st.isDirectory, st.getLen, st.getModificationTime, st.getReplication,
      st.getBlockSize, st.getPermission, st.getOwner, st.getGroup)
  }

  test("link status and target match Hadoop's on files, directories, links and missing paths") {
    val dir = Files.createTempDirectory("graft-links")
    val file = Files.write(dir.resolve("file.txt"), "twelve bytes".getBytes("UTF-8"))
    Files.setPosixFilePermissions(file, PosixFilePermissions.fromString("rw-r-----"))
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.setPosixFilePermissions(sub, PosixFilePermissions.fromString("rwxr-x---"))
    val paths = Seq(
      file, sub,
      Files.createSymbolicLink(dir.resolve("to-file"), file),
      Files.createSymbolicLink(dir.resolve("to-file-rel"), file.getFileName),
      Files.createSymbolicLink(dir.resolve("to-sub"), sub),
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone")),
      dir.resolve("missing"))
    val stock = raw(new RawLocalFileSystem)
    val forkFree = raw(new ForkFreeRawLocalFileSystem)
    val (got, forks) = Forks.during {
      paths.map { p =>
        val hp = new Path(p.toString)
        (Try(fields(forkFree.getFileLinkStatus(hp))), Try(forkFree.getLinkTarget(hp)))
      }
    }
    assert(forks.isEmpty, Forks.describe(forks))
    for ((p, (status, target)) <- paths.zip(got)) {
      val hp = new Path(p.toString)
      val want = Try(fields(stock.getFileLinkStatus(hp)))
      assert(status.toOption == want.toOption, p)
      assert(status.failed.toOption.map(_.getClass) == want.failed.toOption.map(_.getClass), p)
      val wantTarget = Try(stock.getLinkTarget(hp))
      assert(target.toOption == wantTarget.toOption, p)
      assert(target.failed.toOption.map(_.getClass) == wantTarget.failed.toOption.map(_.getClass), p)
    }
    // every kind answered: two plain entries, four links, one not found
    assert(got.count(_._1.toOption.exists(_._2.isDefined)) == 4)
    assert(got.count(_._1.toOption.exists(_._2.isEmpty)) == 2)
    assert(got.last._1.failed.get.isInstanceOf[java.io.FileNotFoundException])
  }

  /** Spark's checkpoint log steps through one `FileContext` implementation:
    * a directory, atomic writes (the third overwrites the first), a list
    * and a delete. Returns the manager's class, the listing and the tree
    * left on disk (name, bytes, permissions), `.crc` files included.
    */
  private def checkpointSteps(impl: String, root: NioPath) = {
    val c = new Configuration()
    c.set(PerBatch.LocalFsKey, impl)
    val base = new Path(root.toUri)
    val cfm = CheckpointFileManager.create(base, c)
    cfm.mkdirs(new Path(base, "offsets"))
    for ((name, body) <- Seq("0" -> "v1\n{}", "1" -> "v1\n{\"a\":1}", "0" -> "v1\n{\"b\":22}")) {
      val out = cfm.createAtomic(new Path(base, s"offsets/$name"), true)
      out.write(body.getBytes("UTF-8"))
      out.close()
    }
    cfm.createAtomic(new Path(base, "offsets/2"), true).cancel()
    val listed = cfm.list(new Path(base, "offsets")).map(_.getPath.getName).sorted.toSeq
    cfm.delete(new Path(base, "offsets/1"))
    val walk = Files.walk(root)
    val tree = try walk.iterator().asScala.filter(_ != root).map { p =>
      (root.relativize(p).toString, if (Files.isDirectory(p)) "" else new String(Files.readAllBytes(p), "ISO-8859-1"),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }.toSeq.sorted finally walk.close()
    (cfm.getClass.getSimpleName, listed, tree)
  }

  test("ForkFreeLocalFs leaves the same checkpoint files as LocalFs, without a fork") {
    val (stock, stockForks) = Forks.during(checkpointSteps(
      "org.apache.hadoop.fs.local.LocalFs", Files.createTempDirectory("graft-ckpt-stock")))
    val (forkFree, forks) = Forks.during(checkpointSteps(
      classOf[ForkFreeLocalFs].getName, Files.createTempDirectory("graft-ckpt-forkfree")))
    assert(forks.isEmpty, Forks.describe(forks))
    assert(forkFree == stock)
    assert(forkFree._1 == "FileContextBasedCheckpointFileManager")
    assert(forkFree._2 == Seq("0", "1"))
    assert(forkFree._3.map(_._1) == Seq("offsets", "offsets/.0.crc", "offsets/0"))
    assert(forkFree._3(2)._2 == "v1\n{\"b\":22}")
    // the stock run shows that the recording sees these forks
    assert(stockForks.nonEmpty)
  }
}
