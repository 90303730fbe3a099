package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The sessions' `file:` filesystem ([[Sessions.localFileSystem]]): Hadoop's
  * local filesystem with mode bits and link status taken through NIO.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val local = new URI("file:///")

  private def mode(p: java.nio.file.Path): String =
    "%o".format(Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  test("the session's file: filesystem is the NIO one, for both Hadoop APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(local, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val afs = FileContext.getFileContext(local, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs], afs.getClass)
  }

  test("a lake write gives its files and directories Hadoop's modes") {
    val lake = Paths.get(TestSpark.tmpDir("fs-modes"), "lake")
    spark.range(3).withColumn("p", lit(1)).write.partitionBy("p").parquet(lake.toString)
    val partition = lake.resolve("p=1")
    val data = Files.list(partition).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(data.nonEmpty)
    // fs.permissions.umask-mode 022: files 0666 & ~022, directories 0777 & ~022
    (data ++ data.map(f => partition.resolve(s".${f.getFileName}.crc")) ++
      Seq(lake.resolve("_SUCCESS"), lake.resolve("._SUCCESS.crc"))).foreach { f =>
      assert(mode(f) === "644", f)
    }
    Seq(lake, partition).foreach(d => assert(mode(d) === "755", d))
  }

  test("a mode beyond 0777 takes Hadoop's own path") {
    val fs = FileSystem.get(local, spark.sparkContext.hadoopConfiguration)
    val dir = Paths.get(TestSpark.tmpDir("fs-sticky"), "d")
    val path = new Path(dir.toUri)
    assert(fs.mkdirs(path))
    fs.setPermission(path, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) === "1750")
    fs.setPermission(path, new FsPermission(Integer.parseInt("700", 8).toShort))
    assert(mode(dir) === "700")
  }

  test("a lake write and a streaming checkpoint start no chmod or readlink process") {
    val root = TestSpark.tmpDir("fs-procs")
    val recording = new Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try {
      spark.range(3).write.parquet(s"$root/lake")
      spark.readStream.schema(spark.read.parquet(s"$root/lake").schema)
        .parquet(s"$root/lake").writeStream.format("parquet")
        .option("checkpointLocation", s"$root/checkpoint")
        .trigger(Trigger.AvailableNow()).start(s"$root/landed")
        .awaitTermination()
    } finally recording.stop()
    val dump = Paths.get(root, "processes.jfr")
    recording.dump(dump)
    recording.close()
    val commands = RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
    assert(spark.read.parquet(s"$root/landed").count() === 3L)
    assert(!commands.exists(c => c.contains("chmod") || c.contains("readlink")),
      commands.mkString("\n"))
  }
}
