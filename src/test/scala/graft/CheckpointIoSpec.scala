package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.gates.GateSupport.deleteRecursively
import graft.sources.mem.MemStore
import graft.streaming.{LocalCheckpointFileManager, Stateful}

/** Contract of [[LocalCheckpointFileManager]]: the properties Spark's
  * default manager gives streaming checkpoints (atomic no-overwrite and
  * overwrite writes, clean cancel, recursive delete, resumable mixed
  * checkpoints, verified checksums), with no child process started. */
class CheckpointIoSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val graftManager = classOf[LocalCheckpointFileManager].getName
  private val sparkManager = classOf[FileContextBasedCheckpointFileManager].getName

  private def withDir[T](body: java.nio.file.Path => T): T = {
    val d = Files.createTempDirectory("ckpt-io")
    try body(d) finally deleteRecursively(d)
  }

  private def manager(d: java.nio.file.Path, cls: String = graftManager): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set(LocalCheckpointFileManager.ConfKey, cls)
    CheckpointFileManager.create(new Path(d.toUri), conf)
  }

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(d: java.nio.file.Path): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  /** Child processes started by this thread while `body` runs. */
  private def processStarts(body: => Unit): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("ckpt-io", ".jfr")
    try {
      rec.dump(f)
      val me = Thread.currentThread().getName
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala
        .count(e => e.getThread != null && e.getThread.getJavaName == me)
    } finally { rec.close(); Files.delete(f) }
  }

  test("a no-overwrite write onto an existing file fails and leaves it intact") {
    withDir { d =>
      val fm = manager(d)
      val p = new Path(d.toUri.toString, "0")
      write(fm, p, "first", overwrite = false)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](out.close())
      assert(read(fm, p) === "first")
      assert(names(d) === Set("0"), "the losing writer's temp file must be gone")
    }
  }

  test("an overwrite replaces the file and drops a stale Hadoop checksum") {
    withDir { d =>
      val p = new Path(d.toUri.toString, "1.delta")
      val default = manager(d, sparkManager)
      write(default, p, "written by Spark's default manager", overwrite = true)
      val hadoopCrc = d.resolve(".1.delta.crc")
      assert(Files.exists(hadoopCrc), "Spark's default manager writes Hadoop checksums")
      write(manager(d), p, "replaced", overwrite = true)
      assert(!Files.exists(hadoopCrc))
      // the default manager verifies Hadoop checksums where they exist
      assert(read(default, p) === "replaced")
      assert(manager(d).list(new Path(d.toUri)).map(_.getPath.getName).toSet === Set("1.delta"))
    }
  }

  test("cancel() leaves nothing behind") {
    withDir { d =>
      val fm = manager(d)
      val out = fm.createAtomic(new Path(d.toUri.toString, "2"), overwriteIfPossible = false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      out.close() // a no-op after cancel, as in Spark's manager
      assert(names(d).isEmpty)
      assert(fm.list(new Path(d.toUri)).isEmpty)
    }
  }

  test("delete is recursive and ignores a missing path") {
    withDir { d =>
      val fm = manager(d)
      val root = new Path(d.toUri.toString, "state")
      fm.mkdirs(new Path(root, "0/1"))
      write(fm, new Path(root, "0/1/1.delta"), "x", overwrite = true)
      write(fm, new Path(root, "0/2.delta"), "y", overwrite = true)
      assert(fm.exists(new Path(root, "0/1/1.delta")))
      fm.delete(root)
      assert(!fm.exists(root) && names(d).isEmpty)
      fm.delete(root)
      fm.delete(new Path(d.toUri.toString, "never-written"))
    }
  }

  test("file: roots start no child process; other schemes keep Spark's manager") {
    withDir { d =>
      def cycle(fm: CheckpointFileManager, base: Path): Unit = {
        Seq("offsets", "state").foreach(sub => fm.mkdirs(new Path(base, sub)))
        (0 until 3).foreach { i =>
          write(fm, new Path(base, s"offsets/$i"), s"batch $i", overwrite = false)
          write(fm, new Path(base, s"state/$i.delta"), s"delta $i", overwrite = true)
        }
        assert(fm.list(new Path(base, "offsets")).length === 3)
        assert(read(fm, new Path(base, "offsets/2")) === "batch 2")
        fm.delete(new Path(base, "state"))
      }
      val graftRoot = new Path(d.toUri.toString, "graft")
      assert(processStarts(cycle(manager(d), graftRoot)) === 0)
      assert(manager(d).isLocal)
      if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded)
        assert(processStarts(cycle(manager(d, sparkManager), new Path(d.toUri.toString, "spark"))) > 0,
          "without Hadoop's native library the default manager forks; the probe must see it")
      // a scheme served by another Hadoop file system goes to Spark's manager
      val conf = new Configuration()
      conf.set(LocalCheckpointFileManager.ConfKey, graftManager)
      conf.set("fs.ckptraw.impl", classOf[CheckpointIoSpec.OtherSchemeFs].getName)
      conf.setBoolean("fs.ckptraw.impl.disable.cache", true)
      val other = new Path(s"ckptraw://${d.toUri.getPath}other")
      cycle(CheckpointFileManager.create(other, conf), other)
      assert(Files.exists(d.resolve("other/offsets/2")))
    }
  }

  private val fmt = "graft.sources.mem.GraftMemSource"

  /** One incarnation of a keyed event-log → running-totals query over
    * `coll`, checkpointed at `ckpt` through the `manager` class. */
  private def runTotals(coll: String, ckpt: String, out: String, manager: String): Unit = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    ss.conf.set(LocalCheckpointFileManager.ConfKey, manager)
    import ss.implicits._
    val src = ss.readStream.format(fmt)
      .option("collection", coll).option("keyColumn", "pkey")
      .option("maxRowsPerTrigger", "25").load()
      .select(col("user_id"), col("amount")).as[(Long, Long)]
    val q = Stateful.runningTotals[(Long, Long)](src, _._1, _._2.toDouble).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  private def events(from: Int, until: Int): DataFrame = {
    import spark.implicits._
    (from until until).map(i => (s"p${i % 2}", (i % 5).toLong, (i * 7 % 13).toLong))
      .toDF("pkey", "user_id", "amount")
  }

  /** Final running total per user equals the batch aggregate: every event
    * counted once, none lost across restarts. */
  private def assertExactlyOnce(out: String, until: Int): Unit = {
    val got = spark.read.parquet(out).groupBy("key")
      .agg(max("events").as("n"), max("sum").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = events(0, until).groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("amount").cast("double").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === want)
  }

  test("keyed running totals resume exactly once across a switch of managers, both ways") {
    val coll = "ckpt_io_resume"
    val ckpt = Files.createTempDirectory("ckpt-io-resume")
    val out = Files.createTempDirectory("ckpt-io-out").toString
    try {
      MemStore.register(coll, events(0, 60))
      runTotals(coll, ckpt.toString, out, sparkManager)
      // drop the last commit, as if the query died after its state commit:
      // the restart re-runs that batch and overwrites its state files
      val commits = ckpt.resolve("commits")
      val last = names(commits).flatMap(_.toLongOption).max
      assert(last >= 1, "the replay must span several batches")
      Seq(s"$last", s".$last.crc").foreach(n => Files.deleteIfExists(commits.resolve(n)))
      MemStore.append(coll, events(60, 110))
      runTotals(coll, ckpt.toString, out, graftManager)
      assertExactlyOnce(out, 110)
      MemStore.append(coll, events(110, 150))
      runTotals(coll, ckpt.toString, out, sparkManager)
      assertExactlyOnce(out, 150)
    } finally {
      deleteRecursively(ckpt)
      deleteRecursively(Paths.get(out))
    }
  }

  test("a corrupted committed state delta fails the restart with a checksum error") {
    val coll = "ckpt_io_corrupt"
    val ckpt = Files.createTempDirectory("ckpt-io-corrupt")
    val out = Files.createTempDirectory("ckpt-io-out").toString
    try {
      MemStore.register(coll, events(0, 60))
      runTotals(coll, ckpt.toString, out, graftManager)
      val deltas = Files.walk(ckpt.resolve("state")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".delta")).toList
      assert(deltas.nonEmpty)
      deltas.foreach(f => assert(Files.exists(f.resolveSibling(s"${f.getFileName}.crc")),
        s"no checkpoint checksum written for $f"))
      deltas.foreach { f =>
        val b = Files.readAllBytes(f)
        b(b.length / 2) = (b(b.length / 2) ^ 0x5a).toByte
        Files.write(f, b)
      }
      MemStore.append(coll, events(60, 80))
      val e = intercept[Exception](runTotals(coll, ckpt.toString, out, graftManager))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString("\n")
      assert(chain.toLowerCase.contains("checksum"), chain)
    } finally {
      deleteRecursively(ckpt)
      deleteRecursively(Paths.get(out))
    }
  }
}

object CheckpointIoSpec {
  /** Local files under a scheme other than `file:`. */
  class OtherSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("ckptraw:///")
    override def getScheme: String = "ckptraw"
  }
}
