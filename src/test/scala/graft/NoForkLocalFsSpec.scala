package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}
import graft.streaming.{EventPipeline, ParquetUpsertSink}

/** The fork-free local file system answers as Hadoop's own does, and a
  * checkpointed stream on it starts no `chmod` or `readlink` process. */
class NoForkLocalFsSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration()); fs
  }
  private lazy val hadoop = init(new RawLocalFileSystem)
  private lazy val noFork = init(new NoForkRawLocalFileSystem)

  private def hpath(p: JPath) = new Path(p.toUri)

  test("setPermission sets the same mode bits as Hadoop's chmod, on files and directories") {
    val dir = Files.createTempDirectory("graft_nofork_perm")
    for (mode <- Seq("600", "644", "700", "755"); isDir <- Seq(false, true)) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val Seq(a, b) = Seq("hadoop", "nofork").map { n =>
        val p = dir.resolve(s"$n-$mode-$isDir")
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("---------"))
        p
      }
      hadoop.setPermission(hpath(a), perm)
      noFork.setPermission(hpath(b), perm)
      def bits(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      assert(bits(a) == perm.toString, s"Hadoop, $mode on ${if (isDir) "a directory" else "a file"}")
      assert(bits(b) == bits(a), s"$mode on ${if (isDir) "a directory" else "a file"}")
    }
  }

  test("getFileLinkStatus matches RawLocalFileSystem on a file, a directory, a symlink and a missing path") {
    val dir = Files.createTempDirectory("graft_nofork_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val sub = Files.createDirectory(dir.resolve("d"))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    def fields(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)
    // both path forms: Hadoop reads the link of `file:`-qualified paths
    // as the relative file name "file:/…", finds none, and follows the link
    for (p <- Seq(file, sub, link); hp <- Seq(new Path(p.toString), hpath(p))) {
      assert(fields(noFork.getFileLinkStatus(hp)) == fields(hadoop.getFileLinkStatus(hp)), hp)
    }
    val target = noFork.getFileLinkStatus(new Path(link.toString)).getSymlink
    assert(target == hpath(file) && target.toUri.getScheme == "file", s"link target $target is not qualified")
    for (missing <- Seq(new Path(dir.resolve("missing").toString), hpath(dir.resolve("missing")))) {
      intercept[FileNotFoundException](hadoop.getFileLinkStatus(missing))
      intercept[FileNotFoundException](noFork.getFileLinkStatus(missing))
    }
  }

  test("a file-source stream with a parquet sink and a stateful MERGE sink, stopped and restarted " +
    "from its checkpoint, forks no chmod or readlink") {
    val spark = TestSpark.spark
    // the test session does not carry ScaleDefaults, and Hadoop caches one
    // file:// FileSystem per JVM: set the two implementations and bypass
    // the cache for the length of the test
    val hc = spark.sparkContext.hadoopConfiguration
    val conf = Seq(
      "fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
      "fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = conf.map { case (k, _) => k -> Option(hc.getRaw(k)) }
    val commands = new ConcurrentLinkedQueue[String]
    val flushed = new CountDownLatch(1)
    val recording = new RecordingStream()
    recording.enable("jdk.ProcessStart")
    recording.enable(classOf[NoForkLocalFsSpec.EndMarker])
    recording.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
    recording.onEvent(classOf[NoForkLocalFsSpec.EndMarker].getName, _ => flushed.countDown())
    try {
      conf.foreach { case (k, v) => hc.set(k, v) }
      recording.startAsync()
      val dir = Files.createTempDirectory("graft_nofork_stream")
      val src = Files.createDirectory(dir.resolve("in"))
      def event(i: Int) =
        s"""{"event_id":"e$i","event_timestamp":"2024-01-01T00:00:${10 + i}Z","user_id":"u${i % 2}","event_type":"view","schema_version":"v1","payload_json":"{}"}"""
      // written aside and moved in, so the source never lists a half-written file
      def addFile(n: Int): Unit = Files.move(
        Files.write(dir.resolve(s"part-$n.jsonl"), (1 to 3).map(i => event(3 * n + i)).mkString("\n").getBytes),
        src.resolve(s"part-$n.jsonl"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val gold = new ParquetUpsertSink(spark, dir.resolve("gold").toString,
        keys = Seq("user_id", "window_start"), orderBy = Seq("processed_at"))

      def start() = {
        val annotated = EventPipeline.annotate(EventPipeline.parse(
          spark.readStream.textFile(src.toString).toDF("raw_value")
            .withColumn("source_topic", lit("file"))
            .withColumn("source_partition", lit(0))
            .withColumn("source_offset", xxhash64(col("raw_value")))))
        Seq(
          EventPipeline.bronze(annotated).writeStream.format("parquet")
            .option("path", dir.resolve("bronze").toString)
            .option("checkpointLocation", dir.resolve("ckpt/bronze").toString)
            .trigger(Trigger.ProcessingTime(0)).start(),
          EventPipeline.goldAggregate(annotated).writeStream
            .foreachBatch(gold.foreachBatchFn)
            .option("checkpointLocation", dir.resolve("ckpt/gold").toString)
            .outputMode("update").trigger(Trigger.ProcessingTime(0)).start())
      }

      val first = start()
      for (n <- 0 until 2) { addFile(n); first.foreach(_.processAllAvailable()) }
      first.foreach(_.stop())
      addFile(2)
      val restarted = start()
      restarted.foreach(_.processAllAvailable())
      restarted.foreach(_.stop())
      assert(spark.read.parquet(dir.resolve("bronze").toString).count() == 9)
      assert(gold.read().agg(sum("views")).head().getLong(0) == 9)

      new NoForkLocalFsSpec.EndMarker().commit()
      assert(flushed.await(60, TimeUnit.SECONDS), "the recording stream never delivered its end marker")
    } finally {
      recording.close()
      saved.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
    val forks = commands.asScala.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.size == 0, s"forks, the first: ${forks.take(3).mkString("; ")}")
  }
}

object NoForkLocalFsSpec {
  /** Committed after the stream: once the recording stream delivers it,
    * every process start before it has been delivered too. */
  class EndMarker extends jdk.jfr.Event
}
