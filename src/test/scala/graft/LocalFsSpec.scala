package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import graft.catalog.GraftCatalog
import graft.tables.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, VersionedTable}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.jdk.CollectionConverters._

/** Child process for [[LocalFsSpec]]: a fresh JVM (so no earlier suite has
  * seeded Hadoop's `FileSystem` cache) that builds the engine's session,
  * prints the `file` scheme's classes, and then — under a JFR recording of
  * `jdk.ProcessStart` — runs a `commitAppend`, a SQL `MERGE INTO` and one
  * `Trigger.AvailableNow` run of a `graft` stream into a parquet sink. It
  * prints one `FORK <command>` line per process started from Hadoop's
  * `Shell` and a final `HADOOP_FORKS <n>` line. */
object LocalFsForkChild {

  def main(args: Array[String]): Unit = {
    val Array(root) = args
    val spark = GraftSession.builder("local[2]", shufflePartitions = 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val conf = spark.sparkContext.hadoopConfiguration
    val fileUri = URI.create("file:///")
    println(s"FS_CLASS ${FileSystem.get(fileUri, conf).getClass.getName}")
    println(s"AFS_CLASS ${AbstractFileSystem.get(fileUri, conf).getClass.getName}")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val dir = s"$root/t"
    VersionedTable.commitAppend(spark,
      spark.range(0L, 50L).select(col("id").as("k"), (col("id") * 2).as("x")), dir)
    GraftCatalog.register("fork_child_t", dir)
    spark.range(40L, 60L).select(col("id").as("k"), lit(-1L).as("x"))
      .createOrReplaceTempView("fork_child_src")
    spark.sql("MERGE INTO graft.fork_child_t t USING fork_child_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET x = s.x WHEN NOT MATCHED THEN INSERT (k, x) VALUES (s.k, s.x)")
    spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet")
      .option("path", s"$root/sink").option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    rec.stop()
    val jfr = Paths.get(root, "forks.jfr")
    rec.dump(jfr)
    rec.close()
    val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
    }
    forks.foreach(e => println(s"FORK ${e.getString("command")}"))
    println(s"ROWS ${spark.read.parquet(s"$root/sink").count()}")
    println(s"HADOOP_FORKS ${forks.size}")
    spark.stop()
  }
}

/** The engine's `file` scheme ([[graft.tables.ForkFreeLocalFileSystem]],
  * [[graft.tables.ForkFreeLocalFs]]) against stock Hadoop: the same
  * permission bits, link statuses, checksums and rename semantics — and no
  * `chmod`/`readlink` process on the commit and streaming paths. */
class LocalFsSpec extends SparkSpec {

  private val FileUri = URI.create("file:///")

  private def tmp(): java.nio.file.Path = Files.createTempDirectory("graft_localfs")

  /** The session's `file` file system, uncached: Hadoop's cache is keyed
    * by scheme and user, so a cached instance is whatever class the first
    * `file:` touch of this JVM made. */
  private def graftFs(conf: Configuration = spark.sparkContext.hadoopConfiguration): FileSystem =
    FileSystem.newInstance(FileUri, conf)

  private def stockFs(conf: Configuration = spark.sparkContext.hadoopConfiguration): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(FileUri, conf)
    fs
  }

  private def stockRaw(conf: Configuration = spark.sparkContext.hadoopConfiguration): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem()
    fs.initialize(FileUri, conf)
    fs
  }

  private def perms(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("the session conf binds the file scheme to the fork-free classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graftFs().getClass == classOf[ForkFreeLocalFileSystem])
    assert(graftFs().asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[ForkFreeRawLocalFileSystem])
    assert(AbstractFileSystem.get(FileUri, conf).getClass == classOf[ForkFreeLocalFs])
    // FileSystem.getLocal casts to LocalFileSystem: the binding must stay one
    assert(FileSystem.newInstanceLocal(conf).isInstanceOf[LocalFileSystem])
  }

  test("created files, .crc sidecars and directories get stock permissions under the same umask") {
    Seq("022", "027", "077").foreach { umask =>
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set(FsPermission.UMASK_LABEL, umask)
      val root = tmp()
      Seq("graft" -> graftFs(conf), "stock" -> stockFs(conf)).foreach { case (side, fs) =>
        val out = fs.create(new Path(s"$root/$side/f.bin"))
        out.write(Array[Byte](1, 2, 3)); out.close()
        assert(fs.mkdirs(new Path(s"$root/$side/a/b/c")))
      }
      Seq("", "f.bin", ".f.bin.crc", "a", "a/b", "a/b/c").foreach { rel =>
        val (g, s) = (perms(root.resolve(s"graft/$rel")), perms(root.resolve(s"stock/$rel")))
        assert(g == s, s"umask $umask, $rel: graft $g vs stock $s")
      }
    }
  }

  test("setPermission sets the stock bits, sticky bit included") {
    val root = tmp()
    Seq("0640", "0700", "0755", "0111", "1777").foreach { mode =>
      val p = FsPermission.createImmutable(Integer.parseInt(mode, 8).toShort)
      Seq("graft" -> graftFs(), "stock" -> stockFs()).foreach { case (side, fs) =>
        val d = new Path(s"$root/$side-$mode")
        assert(fs.mkdirs(d))
        fs.setPermission(d, p)
      }
      val (g, s) = (root.resolve(s"graft-$mode"), root.resolve(s"stock-$mode"))
      assert(perms(g) == perms(s), s"$mode: graft ${perms(g)} vs stock ${perms(s)}")
      assert(graftFs().getFileStatus(new Path(g.toString)).getPermission ==
        stockFs().getFileStatus(new Path(s.toString)).getPermission, mode)
    }
  }

  test("getFileLinkStatus: a file's status, a symlink's qualified target, FNF when missing") {
    val root = tmp()
    val raw  = graftFs().asInstanceOf[LocalFileSystem].getRaw
    val file = root.resolve("f.txt")
    Files.write(file, "hello".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("d"))
    Seq(file, root.resolve("d")).foreach { p =>
      val path = new Path(p.toString)
      val (link, plain) = (raw.getFileLinkStatus(path), raw.getFileStatus(path))
      assert(!link.isSymlink)
      assert(link.getPath == plain.getPath && link.getLen == plain.getLen &&
        link.isDirectory == plain.isDirectory, s"$p: $link vs $plain")
      val stock = stockRaw().getFileLinkStatus(path)
      assert(link.getPath == stock.getPath && link.getLen == stock.getLen &&
        link.isDirectory == stock.isDirectory && !stock.isSymlink)
    }
    val link = root.resolve("l.txt")
    Files.createSymbolicLink(link, file)
    val (g, s) = (raw.getFileLinkStatus(new Path(link.toString)),
      stockRaw().getFileLinkStatus(new Path(link.toString)))
    assert(g.isSymlink && s.isSymlink, s"graft $g, stock $s")
    assert(g.getSymlink == s.getSymlink && g.getSymlink.toUri.getScheme == "file", g.getSymlink)
    intercept[FileNotFoundException](raw.getFileLinkStatus(new Path(s"$root/missing")))
  }

  test("FileContext rename OVERWRITE keeps the body and its .crc consistent") {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = tmp()
    val fc   = FileContext.getFileContext(FileUri, conf)
    assert(fc.getDefaultFileSystem.getClass == classOf[ForkFreeLocalFs])
    def put(p: Path, body: String): Unit = {
      val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val (src, dst) = (new Path(s"$root/x.tmp"), new Path(s"$root/x"))
    put(dst, "old body")
    put(src, "the new, longer body")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(root.resolve("x.tmp")) && !Files.exists(root.resolve(".x.tmp.crc")))
    assert(Files.exists(root.resolve(".x.crc")), "the .crc moves with the body")
    // checksummed reads through both bindings verify the new body
    val fs = graftFs()
    fs.setVerifyChecksum(true)
    def read(in: java.io.InputStream): String =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(read(fs.open(dst)) == "the new, longer body")
    assert(read(fc.open(dst)) == "the new, longer body")
    assert(read(stockFs().open(dst)) == "the new, longer body")
  }

  test("a fresh engine JVM starts no chmod/readlink process for commits, MERGE and a stream") {
    val root = tmp()
    val log  = root.resolve("child.log").toFile
    val child = ChildJvm.spawn("1g", "graft.LocalFsForkChild", Seq(root.toString), log)
    assert(child.waitFor(5, java.util.concurrent.TimeUnit.MINUTES), "child hung")
    val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
    def tail = out.takeRight(4000)
    assert(child.exitValue() == 0, s"child failed:\n$tail")
    val lines = out.linesIterator.toSeq
    def value(key: String): String =
      lines.find(_.startsWith(key + " ")).map(_.stripPrefix(key + " ").trim)
        .getOrElse(fail(s"no $key line:\n$tail"))
    assert(value("ROWS") == "60", "the stream must have copied the merged table")
    assert(value("HADOOP_FORKS") == "0",
      s"Hadoop started processes:\n${lines.filter(_.startsWith("FORK ")).mkString("\n")}")
    assert(value("FS_CLASS") == classOf[ForkFreeLocalFileSystem].getName)
    assert(value("AFS_CLASS") == classOf[ForkFreeLocalFs].getName)
  }
}
