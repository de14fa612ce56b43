package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withTempDir

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  private val conf = new Configuration()

  private def manager(dir: NioPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def write(fm: CheckpointFileManager, target: NioPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(target.toUri), overwrite)
    try out.write(text.getBytes(UTF_8)) catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  private def read(fm: CheckpointFileManager, target: NioPath): String = {
    val in = fm.open(new Path(target.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: NioPath): Set[String] = {
    val l = Files.list(dir)
    try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
  }

  test("an atomic write stays invisible under its final name until close") {
    withTempDir("ckfm-visible") { dir =>
      val fm = manager(dir)
      val target = dir.resolve("0")
      val out = fm.createAtomic(new Path(target.toUri), false)
      out.write("v1".getBytes(UTF_8))
      out.flush()
      assert(!Files.exists(target) && !fm.exists(new Path(target.toUri)))
      val temps = names(dir)
      assert(temps.size == 1 && temps.head.startsWith(".0.") && temps.head.endsWith(".tmp"),
        s"expected one Spark-named temp file, saw $temps")
      out.close()
      assert(names(dir) == Set("0"))
      assert(read(fm, target) == "v1")
    }
  }

  test("no-clobber onto an existing file throws Hadoop's FileAlreadyExistsException") {
    withTempDir("ckfm-noclobber") { dir =>
      val fm = manager(dir)
      val target = dir.resolve("1")
      write(fm, target, "first", overwrite = false)
      val before = Files.readAllBytes(target)
      intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
      assert(Files.readAllBytes(target).sameElements(before))
      assert(names(dir) == Set("1"), "the losing write left its temp file")
    }
  }

  test("of racing no-clobber writers exactly one wins") {
    withTempDir("ckfm-race") { dir =>
      val fm = manager(dir)
      val writers = 4
      val pool = Executors.newFixedThreadPool(writers)
      try (0 until 25).foreach { round =>
        val target = dir.resolve(round.toString)
        val ready = new CountDownLatch(writers)
        val results = (0 until writers).map { w =>
          pool.submit(new Callable[Try[Int]] {
            def call(): Try[Int] = {
              val out = fm.createAtomic(new Path(target.toUri), false)
              out.write(s"writer $w".getBytes(UTF_8))
              ready.countDown()
              ready.await()
              Try(out.close()).map(_ => w)
            }
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        val winners = results.filter(_.isSuccess).map(_.get)
        assert(winners.size == 1, s"round $round: winners $winners")
        assert(results.filter(_.isFailure).forall(_.failed.get.isInstanceOf[FileAlreadyExistsException]))
        assert(new String(Files.readAllBytes(target), UTF_8) == s"writer ${winners.head}")
      } finally pool.shutdownNow()
      assert(names(dir) == (0 until 25).map(_.toString).toSet)
    }
  }

  test("an overwrite replaces the file and drops the stale .crc sidecar") {
    withTempDir("ckfm-overwrite") { dir =>
      val default = new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
      val target = dir.resolve("2.delta")
      write(default, target, "old content", overwrite = true)
      assert(Files.exists(dir.resolve(".2.delta.crc")), "Spark's default manager wrote no sidecar")
      write(manager(dir), target, "new", overwrite = true)
      assert(!Files.exists(dir.resolve(".2.delta.crc")))
      assert(names(dir) == Set("2.delta"))
      // the checksummed reader verifies any sidecar it finds
      assert(read(default, target) == "new")
    }
  }

  test("cancel leaves neither the temp file nor the target") {
    withTempDir("ckfm-cancel") { dir =>
      val out = manager(dir).createAtomic(new Path(dir.resolve("3").toUri), true)
      out.write("never".getBytes(UTF_8))
      out.cancel()
      out.close()
      assert(names(dir).isEmpty)
    }
  }

  test("directories and the checkpoint root come out as Spark's default makes them") {
    withTempDir("ckfm-dirs") { dir =>
      val root = new Path(dir.resolve("ck").toUri)
      val fm = new LocalCheckpointFileManager(root, conf)
      assert(fm.createCheckpointDirectory() ==
        new FileContextBasedCheckpointFileManager(root, conf).createCheckpointDirectory())
      fm.mkdirs(new Path(root, "state/0/1"))
      assert(Files.isDirectory(dir.resolve("ck/state/0/1")))
      assert(fm.isLocal)
      assert(fm.default.isInstanceOf[FileContextBasedCheckpointFileManager])
      intercept[java.io.FileNotFoundException](
        fm.createAtomic(new Path(root, "missing/0"), false))
    }
  }

  test("a path that is not file: resolves to Spark's default manager") {
    // a scheme with a FileSystem but no FileContext binding: Spark's own
    // choice for it is the FileSystem-based manager
    val other = new Configuration(conf)
    other.set("fs.graftother.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    other.set("fs.graftother.impl.disable.cache", "true")
    val root = new Path("graftother:///checkpoints/q")
    val fm = new LocalCheckpointFileManager(root, other)
    assert(fm.default.getClass == CheckpointFileManager.create(root, other).getClass)
    assert(fm.default.getClass.getSimpleName == "FileSystemBasedCheckpointFileManager")
    // and the installed setting never recurses into this class
    other.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    assert(new LocalCheckpointFileManager(root, other).default.getClass == fm.default.getClass)
  }

  test("streams install the manager only where the session names none") {
    val s = spark.newSession()
    EventStreams.streamReader(s)
    assert(s.conf.get(LocalCheckpointFileManager.ConfKey) ==
      classOf[LocalCheckpointFileManager].getName)
    val mine = spark.newSession()
    val configured = classOf[FileContextBasedCheckpointFileManager].getName
    mine.conf.set(LocalCheckpointFileManager.ConfKey, configured)
    EventStreams.streamReader(mine)
    assert(mine.conf.get(LocalCheckpointFileManager.ConfKey) == configured)
  }
}
