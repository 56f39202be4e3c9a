package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** Driver-only parquet footer → Spark schema.
  *
  * `spark.read.parquet(file).schema` launches a SPARK JOB for schema
  * inference (`mergeSchemasInParallel`) even for a single file — ~100 ms of
  * scheduler latency charged to every versioned-commit schema gate, which
  * at 12 commits/query was a third of `q_versioned_deltalog`'s wall time.
  * The gate only ever needs ONE footer, so read it directly on the driver
  * and convert with Spark's own `ParquetToSparkSchemaConverter` (the same
  * class the distributed path uses, constructed from the session's SQLConf
  * so every type-mapping flag — int96, binary-as-string, legacy nanos —
  * matches what a real read would resolve). Lives in the `sql` namespace
  * for the `private[sql]` `sessionState` access, like [[StreamShim]].
  *
  * Every reader here is opened through [[open]], with `HadoopReadOptions`
  * built from the conf the caller passes. The one-argument
  * `ParquetFileReader.open(InputFile)` builds its read options from a
  * fresh default `Configuration`, whose first lookup re-parses every
  * Hadoop default XML resource (`core-default.xml`, `core-site.xml`, and
  * the mapred/yarn/hdfs ones once those classes have loaded): several
  * milliseconds on every footer, paid by every schema resolution of an
  * undeclared-schema table, every commit-time schema gate and every
  * DV/manifest scan, and once per file on CONVERT adoption. That default
  * conf also lacks the session's `spark.hadoop.parquet.*` read options
  * (e.g. `parquet.crypto.factory.class`); the passed conf carries them.
  */
object FooterShim {

  private def open(path: String, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      HadoopReadOptions.builder(conf).build())

  def schemaOf(spark: SparkSession, path: String): StructType = {
    val reader = open(path, spark.asInstanceOf[ClassicSession].sessionState.newHadoopConf())
    try {
      val meta = reader.getFooter.getFileMetaData
      // prefer the embedded Spark schema (what the distributed inference
      // path resolves for Spark-written files — preserves nullability and
      // type flags the physical MessageType can't carry); fall back to the
      // physical conversion for foreign writers (pyarrow fixtures)
      Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
        .flatMap { json =>
          try Some(org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType])
          catch { case _: Throwable => None }
        }
        .getOrElse(new ParquetToSparkSchemaConverter(
          spark.asInstanceOf[ClassicSession].sessionState.conf).convert(meta.getSchema))
    } finally reader.close()
  }

  /** DISTRIBUTED distinct footer field shapes (lower-cased name → type
    * string, sorted) across `paths` — the uniform-schema proof CONVERT
    * adoption runs. A mergeSchema union compared against ONE footer only
    * catches files narrower than that arbitrary first file; this reads
    * every footer executor-side (O(files) spread over the cluster, the
    * one-time adoption cost) and returns the distinct shapes, so ANY
    * mixture refuses regardless of listing order. Lives here for
    * `SerializableConfiguration` (private[spark]). */
  def distinctFooterShapes(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.asInstanceOf[ClassicSession].sessionState.newHadoopConf())
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 64)))
      .map { f =>
        val reader = open(f, conf.value)
        try {
          reader.getFooter.getFileMetaData.getSchema.getFields
            .toArray.map(_.toString.toLowerCase(java.util.Locale.ROOT))
            .sorted.mkString("; ")
        } finally reader.close()
      }
      .distinct().collect().toSeq
  }
}
