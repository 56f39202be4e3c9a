package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.graft.FooterShim

/** The driver footer read resolves the schema a real Spark read would, and
  * reuses the session's Hadoop conf instead of building a default one per
  * footer (whose first lookup re-parses Hadoop's XML resources). */
class FooterShimSpec extends SparkSpec {

  private def parquetIn(dir: java.nio.file.Path): String =
    dir.toFile.listFiles.map(_.getPath).filter(_.endsWith(".parquet")).head

  // every column nullable in both files: spark.read relaxes each field to
  // nullable, while schemaOf keeps a footer's non-null (required) fields
  private lazy val sparkWritten: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_footer_spark").resolve("t")
    Seq((Option(1L), "a", Option(1.5), Option(2)), (Option(2L), "b", Option(2.5), None))
      .toDF("id", "name", "score", "n")
      .coalesce(1).write.parquet(dir.toString)
    parquetIn(dir)
  }

  // no Spark row metadata in the footer: the schema comes from the physical
  // MessageType through ParquetToSparkSchemaConverter alone
  private lazy val foreignWritten: String = {
    val file = Files.createTempDirectory("graft_footer_foreign").resolve("f.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { optional int64 id; optional binary payload; optional double score; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(file.toString), conf))
      .withConf(conf).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach { i =>
      writer.write(groups.newGroup().append("id", i.toLong)
        .append("payload", Binary.fromString(s"p$i")).append("score", i * 0.5))
    } finally writer.close()
    file.toString
  }

  /** The XML resources a Hadoop `Configuration` built on this thread loads
    * while `body` runs. A new `Configuration` takes the thread's context
    * class loader and asks it for `core-default.xml`/`core-site.xml` when its
    * first lookup parses them (Hadoop logs that parse only outside its
    * default quiet mode, so a log capture would see nothing); a copied conf
    * reuses its source's parsed properties and asks for nothing. */
  private def xmlResourceLookups(body: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val thread = Thread.currentThread
    val prior = thread.getContextClassLoader
    thread.setContextClassLoader(new ClassLoader(prior) {
      override def getResource(name: String): java.net.URL = {
        if (name.endsWith(".xml")) seen += name
        super.getResource(name)
      }
    })
    try body
    finally thread.setContextClassLoader(prior)
    seen.toSeq
  }

  test("schemaOf equals spark.read.parquet(f).schema for a Spark-written file") {
    assert(FooterShim.schemaOf(spark, sparkWritten) == spark.read.parquet(sparkWritten).schema)
  }

  test("schemaOf follows the session SQLConf for a file without Spark metadata") {
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try Seq("false", "true").foreach { flag =>
      spark.conf.set(key, flag)
      val expected = spark.read.parquet(foreignWritten).schema
      assert(FooterShim.schemaOf(spark, foreignWritten) == expected, s"$key=$flag")
      val payload = expected("payload").dataType
      assert(payload == (if (flag == "true") org.apache.spark.sql.types.StringType
        else org.apache.spark.sql.types.BinaryType), s"$key=$flag")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("20 consecutive schemaOf calls load no Hadoop XML resource") {
    FooterShim.schemaOf(spark, sparkWritten)
    FooterShim.schemaOf(spark, foreignWritten)
    // the probe sees a parse when one happens: a fresh default conf's first
    // lookup loads core-default.xml
    val control = xmlResourceLookups(new Configuration().getBoolean("graft.unset", false))
    assert(control.contains("core-default.xml"), control)
    val seen = xmlResourceLookups {
      (1 to 10).foreach { _ =>
        FooterShim.schemaOf(spark, sparkWritten)
        FooterShim.schemaOf(spark, foreignWritten)
      }
    }
    assert(seen.size == 0, s"first lookups: ${seen.take(3)}")
  }
}
