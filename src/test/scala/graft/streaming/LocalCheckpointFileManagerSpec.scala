package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The atomic-publish contract of the java.nio checkpoint file manager the
  * streaming replays write their checkpoints through: a file appears whole
  * or not at all, a no-overwrite publish never clobbers, and no temp file
  * outlives its stream.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val conf = new Configuration()

  private def withDir(body: (JPath, LocalCheckpointFileManager) => Unit): Unit = {
    val d = Files.createTempDirectory("graft_ckfm")
    try body(d, new LocalCheckpointFileManager(new Path(d.toUri), conf))
    finally {
      import scala.jdk.CollectionConverters._
      Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private def publish(fm: LocalCheckpointFileManager, d: JPath, name: String,
                      text: String, overwrite: Boolean) = {
    val out = fm.createAtomic(new Path(d.resolve(name).toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out
  }

  private def entries(d: JPath): Set[String] = d.toFile.list().toSet
  private def text(f: JPath): String = new String(Files.readAllBytes(f), UTF_8)

  test("createAtomic(...).close() publishes the file, with no temp or .crc left") {
    withDir { (d, fm) =>
      publish(fm, d, "0", "batch 0", overwrite = false).close()
      assert(text(d.resolve("0")) == "batch 0")
      assert(entries(d) == Set("0"))
      assert(fm.exists(new Path(d.resolve("0").toUri)))
      assert(fm.list(new Path(d.toUri)).map(_.getPath.getName).toSeq == Seq("0"))
    }
  }

  test("no-overwrite onto an existing file throws and keeps the target's bytes") {
    withDir { (d, fm) =>
      publish(fm, d, "0", "first", overwrite = false).close()
      val out = publish(fm, d, "0", "second", overwrite = false)
      intercept[FileAlreadyExistsException](out.close())
      assert(text(d.resolve("0")) == "first")
      assert(entries(d) == Set("0"), "the temp file must not outlive a failed publish")
    }
  }

  test("cancel() leaves neither the temp file nor the target") {
    withDir { (d, fm) =>
      publish(fm, d, "0", "never", overwrite = false).cancel()
      assert(entries(d).isEmpty)
    }
  }

  test("overwrite replaces the file") {
    withDir { (d, fm) =>
      publish(fm, d, "0", "old", overwrite = true).close()
      publish(fm, d, "0", "new", overwrite = true).close()
      assert(text(d.resolve("0")) == "new")
      assert(entries(d) == Set("0"))
    }
  }

  test("mkdirs and createCheckpointDirectory create missing parents") {
    withDir { (d, _) =>
      val fm = new LocalCheckpointFileManager(new Path(d.resolve("a/b").toUri), conf)
      val root = fm.createCheckpointDirectory()
      assert(root.toUri.getScheme == "file")
      assert(Files.isDirectory(d.resolve("a/b")))
      fm.mkdirs(new Path(d.resolve("a/b/state/0").toUri))
      assert(Files.isDirectory(d.resolve("a/b/state/0")))
    }
  }

  test("a non-local path fails at construction, naming the path") {
    val p = "hdfs://namenode.invalid:8020/graft/ckpt"
    val e = intercept[IllegalArgumentException](new LocalCheckpointFileManager(new Path(p), conf))
    assert(e.getMessage.contains(p), e.getMessage)
  }
}
