package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import graft.streaming.LocalCheckpointFiles

/** The contract `HDFSMetadataLog` and the state stores rely on from a
  * checkpoint manager, checked on [[LocalCheckpointFiles]]'s java.nio
  * path: atomic publish, no-overwrite refusal, cancel. */
class CheckpointFilesSpec extends AnyFunSuite {
  private def manager(dir: NioPath) =
    new LocalCheckpointFiles(new Path(dir.toUri), new Configuration())

  private def write(m: LocalCheckpointFiles, f: NioPath, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(new Path(f.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(f: NioPath) = new String(Files.readAllBytes(f), UTF_8)

  private def names(dir: NioPath) = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("no-overwrite publish onto an existing file raises Hadoop's FileAlreadyExistsException") {
    val dir = Files.createTempDirectory("graft_cfm")
    val m = manager(dir)
    val f = dir.resolve("0")
    write(m, f, "first", overwrite = false)
    assert(read(f) === "first")
    intercept[FileAlreadyExistsException] { write(m, f, "second", overwrite = false) }
    assert(read(f) === "first")
    assert(names(dir) === Set("0"), "a temp file outlived the refused write")
  }

  test("overwrite replaces the file and removes its stale .crc sibling") {
    val dir = Files.createTempDirectory("graft_cfm")
    val m = manager(dir)
    val f = dir.resolve("1.delta")
    Files.write(f, "old".getBytes(UTF_8))
    Files.write(dir.resolve(".1.delta.crc"), Array[Byte](1, 2, 3))
    write(m, f, "new", overwrite = true)
    assert(read(f) === "new")
    assert(names(dir) === Set("1.delta"))
  }

  test("cancel leaves neither the target nor the temp file") {
    val dir = Files.createTempDirectory("graft_cfm")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.resolve("2").toUri), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("list hides .crc files and delete removes them with their file") {
    val dir = Files.createTempDirectory("graft_cfm")
    val m = manager(dir)
    write(m, dir.resolve("3"), "x", overwrite = false)
    Files.write(dir.resolve(".3.crc"), Array[Byte](1))
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === Set("3"))
    m.delete(new Path(dir.resolve("3").toUri))
    assert(names(dir).isEmpty)
    assert(m.isLocal && m.remote.isEmpty)
  }

  test("a path off the local filesystem gets Spark's default manager") {
    val m = new LocalCheckpointFiles(new Path("hdfs://localhost:1/ckpt"), new Configuration())
    assert(m.remote.map(_.getClass) === Some(classOf[FileContextBasedCheckpointFileManager]))
    assert(!m.isLocal)
  }
}
