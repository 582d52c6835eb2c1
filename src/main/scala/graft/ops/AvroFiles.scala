package graft.ops

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.file.DataFileStream
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.AvroKeyInputFormat
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.NullWritable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Avro object-container file I/O for the `storage` source/sink
  * (reference `source/StorageSource.java:88-93,284-340` and
  * `sink/StorageSink.java:152-165` avro branches).
  *
  * Built on avro-core + avro-mapred (both bundled with Spark) instead
  * of the spark-avro module, which does not ship in this image. The
  * Hadoop input format splits files on Avro sync-marker blocks, so a
  * multi-GB file fans out across tasks exactly like any other Hadoop
  * splittable format — reads scale with input size, not file count.
  * Writes go through [[AvroFilesDynamic]], the one avro commit
  * protocol (sibling staging, old data deleted only after the job
  * succeeded), for constant and per-record destinations alike.
  *
  * Caveats vs spark-avro (documented in README deviations): no
  * filter pushdown (Avro is row-major; spark-avro gains little there
  * either) and column pruning happens after decode, not inside it.
  */
object AvroFiles {

  /** Batch-read container files; schema comes from the first file's
    * writer header (one driver-side header read — not a data scan).
    * Files whose schema has drifted resolve against it by Avro
    * schema-resolution rules. An explicit `schema` param projects /
    * casts by name after decode. */
  def read(spark: SparkSession, paths: Seq[String],
      schemaOpt: Option[StructType]): DataFrame = {
    val sc = spark.sparkContext
    val writerSchema = headerSchema(sc.hadoopConfiguration, paths)
    val json = writerSchema.toString
    val hconf = new Configuration(sc.hadoopConfiguration)
    hconf.set("avro.schema.input.key", json)
    val rdd = sc.newAPIHadoopFile(paths.mkString(","),
      classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable], hconf)
    val st = AvroCodec.toStructType(json)
    // convert inside the scan stage: the record reader reuses its
    // AvroKey holder, so the datum must not escape the iterator step
    val rows = rdd.mapPartitions { it =>
      val s = new ASchema.Parser().parse(json)
      val stLocal = AvroCodec.toStructType(json)
      it.map { case (k, _) => AvroCodec.recordToRow(k.datum(), s, stLocal) }
    }
    var df = spark.createDataFrame(rows, st)
    schemaOpt.foreach { want =>
      df = df.select(want.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
    }
    df
  }

  /** Writer schema of the first non-empty data file under `paths`
    * (literal file, directory, or glob). */
  private def headerSchema(conf: Configuration,
      paths: Seq[String]): ASchema = {
    val files = paths.iterator.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
        .flatMap { s =>
          if (s.isDirectory)
            fs.listStatus(s.getPath).toSeq.filter(_.isFile)
          else Seq(s)
        }
    }.filter { s =>
      val n = s.getPath.getName
      s.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    val first = files.nextOption().getOrElse(
      throw new IllegalArgumentException(
        s"storage avro: no data files at ${paths.mkString(", ")}"))
    val in = first.getPath.getFileSystem(conf).open(first.getPath)
    try
      new DataFileStream(in,
        new GenericDatumReader[GenericRecord]()).getSchema
    finally in.close()
  }
}
