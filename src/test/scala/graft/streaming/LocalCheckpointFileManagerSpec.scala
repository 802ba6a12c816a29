package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.ais.ShipInfoEvent
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The checkpoint file manager `Graft.session` installs: Spark's commit
  * contract on `file:` paths with no process forks, Spark's own manager on
  * every other scheme, and checkpoints written by Spark's default manager
  * resume under it without losing or duplicating landed rows. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft-ckpt")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, s: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("file: paths get the java.io manager; createAtomic then close " +
      "publishes the content and leaves no temp file") {
    withDir { dir =>
      val m = manager(dir)
      assert(m.delegate.isInstanceOf[LocalCheckpointFileManager.JavaIoTempFiles])
      assert(m.isLocal)
      write(m, new Path(dir.toUri.toString, "0"), "v0", overwrite = false)
      assert(read(m, new Path(dir.toUri.toString, "0")) == "v0")
      assert(names(dir) == Set("0"))
    }
  }

  test("overwriteIfPossible=false refuses an existing target and keeps " +
      "its content") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(m, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](
        write(m, p, "second", overwrite = false))
      assert(read(m, p) == "first")
      assert(names(dir) == Set("0"))
      write(m, p, "third", overwrite = true)
      assert(read(m, p) == "third")
    }
  }

  test("replacing a file with a stale .crc still reads back") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      // the local FileSystem writes the target with a .crc sibling, as
      // Spark's default manager does
      val fs = p.getFileSystem(new Configuration())
      val out = fs.create(p, true)
      out.write("old".getBytes(UTF_8))
      out.close()
      assert(names(dir) == Set("0", ".0.crc"))
      write(m, p, "a longer new value", overwrite = true)
      assert(read(m, p) == "a longer new value")
      assert(names(dir) == Set("0"))
    }
  }

  test("cancel() leaves neither the target nor a temp file") {
    withDir { dir =>
      val out = manager(dir).createAtomic(new Path(dir.toUri.toString, "0"),
        overwriteIfPossible = false)
      out.write("never published".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("a non-file path gets Spark's FileContext-based manager") {
    val m = new LocalCheckpointFileManager(
      new Path("hdfs://localhost:8020/ckpt"), new Configuration())
    assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(!m.isLocal)
  }

  private val infoEp = JdbcSink.Endpoint("jdbc:fake", "ckpt_info")

  private def infoEvent(i: Int) = ShipInfoEvent(s"mmsi$i",
    1700000000L + i, s"SHIP$i", s"CALL$i", "Cargo", "BERGEN")

  /** Runs `batches` micro-batches of a MemoryStream → `JdbcSink` (FakeJdbc)
    * query on `ckpt` under the checkpoint manager `managerClass` (the
    * session's own when None), one event per batch starting at `from`. */
  private def runBatches(in: MemoryStream[ShipInfoEvent], ckpt: String,
      managerClass: Option[String], from: Int, batches: Int,
      afterFirst: () => Unit = () => ()): Unit = {
    val key = LocalCheckpointFileManager.ConfKey
    val prior = spark.conf.getOption(key)
    managerClass.foreach(spark.conf.set(key, _))
    try {
      val q = JdbcSink.infoWriter(in.toDS(), infoEp, ckpt, FakeJdbc.Factory)
        .start()
      try (from until from + batches).foreach { i =>
        in.addData(infoEvent(i))
        q.processAllAvailable()
        if (i == from) afterFirst()
      } finally q.stop()
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `jdk.ProcessStart` events on the stream execution thread during
    * batches 1-4 of a five-batch query under `managerClass`. */
  private def streamThreadForks(managerClass: Option[String]): Seq[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    FakeJdbc.clear()
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("graft-forks", ".jfr")
    val ckpt = Files.createTempDirectory("graft-forks-ckpt")
    try {
      runBatches(MemoryStream[ShipInfoEvent], ckpt.toString, managerClass,
        from = 0, batches = 5, afterFirst = () => rec.start())
      rec.stop()
      rec.dump(dump)
      assert(FakeJdbc.rows(infoEp.table).size == 5)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getThread)
          .exists(_.getJavaName.startsWith("stream execution thread")))
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
      FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  test("a file: checkpoint commits micro-batches without forking a process " +
      "on the stream thread; Spark's FileContext manager forks") {
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) ==
      classOf[LocalCheckpointFileManager].getName)
    val engine = streamThreadForks(None)
    assert(engine.isEmpty, engine.mkString("forks: ", "; ", ""))
    assume(!NativeCodeLoader.isNativeCodeLoaded,
      "with the Hadoop native library neither manager forks")
    val stock = streamThreadForks(
      Some(classOf[FileContextBasedCheckpointFileManager].getName))
    assert(stock.nonEmpty)
  }

  test("a checkpoint written by Spark's default manager resumes under the " +
      "engine's manager: landed rows equal an uninterrupted run") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def landed() = FakeJdbc.rows(infoEp.table)
      .map(_.filter { case (k, _) => k != JdbcSink.PartCol })
    withDir { twinDir =>
      FakeJdbc.clear()
      runBatches(MemoryStream[ShipInfoEvent], twinDir.toString, None,
        from = 0, batches = 4)
      val twin = landed()
      withDir { dir =>
        FakeJdbc.clear()
        val in = MemoryStream[ShipInfoEvent]
        runBatches(in, dir.toString, Some(
          classOf[FileContextBasedCheckpointFileManager].getName),
          from = 0, batches = 2)
        val commits = dir.resolve("commits")
        assert(names(commits) == Set("0", "1", ".0.crc", ".1.crc"))
        runBatches(in, dir.toString, None, from = 2, batches = 2)
        // the resumed query wrote batches 2 and 3 with the engine's manager
        assert(names(commits) == Set("0", "1", ".0.crc", ".1.crc", "2", "3"))
        val rows = landed()
        assert(rows.sortBy(_.toString) == twin.sortBy(_.toString))
        assert(rows.map(r => (r("mmsi"), r("timestamp"))).distinct.size == 4)
        assert(rows.map(_(JdbcSink.BatchCol).toString).toSet ==
          Set("0", "1", "2", "3"))
      }
    }
  }
}
