package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.{HoltSnapshot, HoltStream, LocalCheckpointFileManager, SensorReading}
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The java.nio checkpoint manager keeps the contract of Spark's default
  * one (atomic publish, no-overwrite, cancel, hidden temp files) and reads
  * and writes the same checkpoints: a HoltStream query restarts across
  * default → graft → default managers with exact batch-fold parity.
  */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private val conf = new Configuration()
  private val localFs = FileSystem.getLocal(conf)

  private def withDir(body: NioPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }
  private def manager(dir: NioPath) = new LocalCheckpointFileManager(new Path(dir.toUri), conf)
  private def hpath(f: NioPath) = new Path(f.toUri)
  private def names(dir: NioPath) = dir.toFile.list().toSet
  private def write(m: CheckpointFileManager, f: NioPath, s: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(hpath(f), overwrite)
    out.write(s.getBytes(UTF_8)); out.close()
  }
  private def readHadoop(f: NioPath): String = {
    val in = localFs.open(hpath(f))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a file is invisible until close; cancel leaves neither file nor temp file") {
    withDir { dir =>
      val m = manager(dir)
      assert(m.isLocal && !m.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
      val f = dir.resolve("0")
      val out = m.createAtomic(hpath(f), overwriteIfPossible = false)
      out.write("v1\n{}".getBytes(UTF_8))
      out.flush()
      assert(!m.exists(hpath(f)))
      out.close()
      assert(m.exists(hpath(f)) && readHadoop(f) == "v1\n{}")

      val g = dir.resolve("1")
      val out2 = m.createAtomic(hpath(g), overwriteIfPossible = false)
      out2.write("partial".getBytes(UTF_8))
      out2.cancel()
      assert(!m.exists(hpath(g)))
      assert(names(dir) == Set("0"))
    }
  }

  test("no-overwrite on an existing path throws and keeps the old bytes") {
    withDir { dir =>
      val m = manager(dir)
      val f = dir.resolve("5")
      write(m, f, "old", overwrite = false)
      val out = m.createAtomic(hpath(f), overwriteIfPossible = false)
      out.write("new".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      out.cancel() // what Spark's metadata log does next: a no-op here
      assert(readHadoop(f) == "old")
      assert(names(dir) == Set("5"))
    }
  }

  test("overwrite replaces the file and drops a stale Hadoop .crc sidecar") {
    withDir { dir =>
      val f = dir.resolve("1.zip")
      val crc = dir.resolve(".1.zip.crc")
      val out = localFs.create(hpath(f))
      out.write("written by Hadoop's LocalFileSystem".getBytes(UTF_8)); out.close()
      assert(Files.exists(crc))
      // the trap: new bytes under the old sidecar fail Hadoop's checksum
      Files.write(f, "new bytes, old crc".getBytes(UTF_8))
      intercept[ChecksumException](readHadoop(f))

      val m = manager(dir)
      write(m, f, "replaced atomically", overwrite = true)
      assert(!Files.exists(crc))
      assert(readHadoop(f) == "replaced atomically")
      m.delete(hpath(f))
      assert(names(dir).isEmpty)
    }
  }

  test("list never returns temp files, whose names pass for no checkpoint file") {
    withDir { dir =>
      val m = manager(dir)
      write(m, dir.resolve("3"), "x", overwrite = false)
      val open = m.createAtomic(hpath(dir.resolve("4.changelog")), overwriteIfPossible = true)
      try {
        val temps = names(dir).filter(LocalCheckpointFileManager.isTempFile)
        assert(temps.size == 1)
        val t = temps.head
        assert(t.startsWith(".") && !t.matches("\\d+") &&
          !Seq(".zip", ".changelog", ".sst").exists(t.endsWith))
        assert(m.list(hpath(dir)).map(_.getPath.getName).toSet == Set("3"))
      } finally open.cancel()
      assert(names(dir) == Set("3"))
    }
  }

  test("non-file: paths get Spark's default manager; graft sessions select this one") {
    withDir { dir =>
      val viewConf = new Configuration()
      viewConf.set("fs.viewfs.mounttable.graft.link./ckpt", dir.toUri.toString)
      val m = new LocalCheckpointFileManager(new Path("viewfs://graft/ckpt"), viewConf)
      assert(m.impl.isInstanceOf[FileContextBasedCheckpointFileManager])
      val fromSession = CheckpointFileManager.create(hpath(dir), spark.sessionState.newHadoopConf())
      assert(fromSession.isInstanceOf[LocalCheckpointFileManager])
    }
  }

  // align to whole UTC days, away from epoch 0 (initial-watermark discard)
  private def ts(day: Long, sec: Long) = new Timestamp((19700L + day) * 86400000L + sec * 1000L)

  test("a HoltStream checkpoint restores across default → graft → default managers") {
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[SensorReading]
    val out = new ConcurrentLinkedQueue[(Long, HoltSnapshot)]()
    val fed = scala.collection.mutable.ArrayBuffer.empty[SensorReading]
    var nextId = 0L
    def slice(day: Long): Seq[SensorReading] = Seq("a" -> 1.0, "b" -> 3.0, "a" -> 2.5).map {
      case (k, v) => nextId += 1; SensorReading(k, nextId, ts(day, nextId), v * (day + 1) + nextId % 3)
    }
    def leg(manager: Option[String], days: Seq[Long], ckpt: String): Unit = {
      manager match {
        case Some(c) => spark.conf.set(LocalCheckpointFileManager.ConfKey, c)
        case None => spark.conf.unset(LocalCheckpointFileManager.ConfKey)
      }
      val used = CheckpointFileManager.create(new Path(ckpt), spark.sessionState.newHadoopConf())
      assert(used.isInstanceOf[LocalCheckpointFileManager] == manager.isDefined)
      val q = HoltStream.run(mem.toDS()).writeStream
        .foreachBatch { (df: Dataset[HoltSnapshot], id: Long) =>
          df.collect().foreach(s => out.add(id -> s)) }
        .option("checkpointLocation", ckpt).start()
      try days.foreach { d =>
        val rows = slice(d); fed ++= rows
        mem.addData(rows: _*); q.processAllAvailable()
      } finally q.stop()
      val last = out.asScala.toSeq.groupBy(_._2.event_type)
        .map { case (k, xs) => k -> xs.maxBy(_._1)._2 }
      val batch = graft.ops.TimeSeries.holtLinear(fed.toSeq
        .map(r => (r.event_id, r.ts, 1L, r.event_type, r.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .as[HoltSnapshot].collect().map(s => s.event_type -> s).toMap
      assert(last == batch, s"after leg ${manager.getOrElse("default")}")
    }
    try withDir { dir =>
      val ckpt = dir.resolve("holt").toString
      leg(None, Seq(0L, 1L, 2L), ckpt)
      assert(FileUtils.listFiles(dir.toFile, null, true).asScala.map(_.getName)
        .exists(n => n.startsWith(".") && n.endsWith(".crc")),
        "the default manager leaves Hadoop .name.crc sidecars")
      leg(Some(classOf[LocalCheckpointFileManager].getName), Seq(3L, 4L), ckpt)
      leg(None, Seq(5L, 6L), ckpt)
    } finally {
      spark.conf.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}
