package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage avro container-file I/O (ops/AvroFiles): distributed
  * write via AvroKeyOutputFormat, block-splittable read via
  * AvroKeyInputFormat — no spark-avro jar involved. */
class AvroFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  test("storage sink+source roundtrip avro container files") {
    val dir = java.nio.file.Files.createTempDirectory("avrofiles").toString
    val out = s"$dir/orders_avro"
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: orders
      |    module: storage
      |    parameters: {path: "$sf/orders.parquet"}
      |transforms:
      |  - name: sel
      |    module: sql
      |    inputs: [orders]
      |    parameters:
      |      sql: "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders"
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: sel
      |    parameters: {output: "$out", format: avro}
      |""".stripMargin)

    val back = Pipeline.build(spark, s"""
      |sources:
      |  - name: rd
      |    module: storage
      |    parameters: {path: "$out", format: avro}
      |""".stripMargin)("rd")
    val orig = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    assert(back.count() === orig.count())
    assert(back.schema.fieldNames.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"))
    // value-exact roundtrip (dates + decimals-as-double + strings)
    val h1 = orig.agg(sum(xxhash64(concat_ws("|", orig.columns.map(c =>
      col(c).cast("string")): _*)))).head.getLong(0)
    val h2 = back.agg(sum(xxhash64(concat_ws("|", back.columns.map(c =>
      col(c).cast("string")): _*)))).head.getLong(0)
    assert(h1 === h2)
  }

  test("avro read projects/casts by explicit schema param") {
    val dir = java.nio.file.Files.createTempDirectory("avrofiles2").toString
    val out = s"$dir/nation_avro"
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    graft.ops.AvroFilesDynamic.writeDynamic(nation, out, None, None,
      overwrite = true)
    val back = Pipeline.build(spark, s"""
      |sources:
      |  - name: rd
      |    module: storage
      |    parameters:
      |      path: "$out"
      |      format: avro
      |      schema:
      |        fields:
      |          - {name: n_name, type: string}
      |          - {name: n_nationkey, type: int64}
      |""".stripMargin)("rd")
    assert(back.schema.fieldNames.toSeq === Seq("n_name", "n_nationkey"))
    assert(back.count() === nation.count())
  }

  test("avro sink compression actually applies (container header codec)") {
    val dir = java.nio.file.Files.createTempDirectory("avrocodec").toString
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    graft.ops.AvroFilesDynamic.writeDynamic(nation, s"$dir/snappy", None,
      Some("snappy"), overwrite = true)
    graft.ops.AvroFilesDynamic.writeDynamic(nation, s"$dir/plain", None,
      None, overwrite = true)
    def codecOf(d: String): String = {
      val f = new java.io.File(d).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".avro")).head
      val in = new java.io.FileInputStream(f)
      try {
        val r = new org.apache.avro.file.DataFileStream(in,
          new org.apache.avro.generic.GenericDatumReader[Any]())
        Option(r.getMetaString("avro.codec")).getOrElse("null")
      } finally in.close()
    }
    assert(codecOf(s"$dir/snappy") === "snappy")
    assert(codecOf(s"$dir/plain") === "null")
  }

  test("avro sink partitionFields: hive-style subdirs, records keep " +
      "all fields, reads back via the avro source path") {
    val dir = java.nio.file.Files.createTempDirectory("avropart").toString
    val out = s"$dir/nation_avro"
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: n
      |    module: storage
      |    parameters: {path: "$sf/nation.parquet"}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: n
      |    parameters:
      |      output: "$out"
      |      format: avro
      |      partitionFields: [n_regionkey]
      |""".stripMargin)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs === (0 to 4).map(r => s"n_regionkey=$r"))
    // read back through the same source path the q57 gate uses
    val back = Pipeline.build(spark, s"""
      |sources:
      |  - name: rd
      |    module: storage
      |    parameters: {path: "$out/*/", format: avro}
      |""".stripMargin)("rd")
    assert(back.count() === 25)
    // unlike parquet partitionBy, the partition field stays IN rows
    assert(back.columns.contains("n_regionkey"))
    assert(back.groupBy("n_regionkey").count().count() === 5)
  }

  test("avro sink template destinations and append mode") {
    val dir = java.nio.file.Files.createTempDirectory("avrotmpl").toString
    def run(): Unit = Pipeline.execute(spark, s"""
      |sources:
      |  - name: n
      |    module: storage
      |    parameters: {path: "$sf/nation.parquet"}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: n
      |    parameters:
      |      output: "$dir/by-region/r$${n_regionkey}"
      |      format: avro
      |      mode: append
      |""".stripMargin)
    run(); run() // append: second run adds files, never clobbers
    val back = graft.ops.AvroFiles.read(spark,
      Seq(s"$dir/by-region/*/"), None)
    assert(back.count() === 50)
    assert(new java.io.File(s"$dir/by-region/r2").listFiles()
      .count(_.getName.endsWith(".avro")) >= 2)
  }

  test("plain avro append keeps input partitioning and rejects " +
      "unknown modes") {
    val dir = java.nio.file.Files.createTempDirectory("avroapp").toString
    val out = s"$dir/plain"
    Pipeline.execute(spark, s"""
      |sources:
      |  - name: n
      |    module: storage
      |    parameters: {path: "$sf/nation.parquet"}
      |sinks:
      |  - name: snk
      |    module: storage
      |    input: n
      |    parameters:
      |      output: "$out"
      |      format: avro
      |      mode: append
      |      numShards: 4
      |""".stripMargin)
    // 4 shards → 4 writer tasks → multiple files (a constant-dest
    // repartition would have collapsed this to one)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length >= 2)
    assert(graft.ops.AvroFiles.read(spark, Seq(out), None).count() === 25)
    // no staging leftovers
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith(".graft-staging")))
    val e = intercept[IllegalArgumentException] {
      Pipeline.execute(spark, s"""
        |sources:
        |  - name: n
        |    module: storage
        |    parameters: {path: "$sf/nation.parquet"}
        |sinks:
        |  - name: snk
        |    module: storage
        |    input: n
        |    parameters: {output: "$dir/nope", format: avro, mode: ignore}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("overwrite|append"))
  }

  test("avro dynamic overwrite is crash-safe: a failed job leaves " +
      "the previous data intact and no staging") {
    val dir = java.nio.file.Files.createTempDirectory("avrocrash")
      .toString
    val out = s"$dir/data"
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.ops.AvroFilesDynamic.writeDynamic(nation, out,
      Some(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("r="),
        org.apache.spark.sql.functions.col("n_regionkey"))),
      None, overwrite = true)
    assert(graft.ops.AvroFiles.read(spark, Seq(s"$out/*/"), None)
      .count() === 25)
    // second overwrite run whose job FAILS mid-write: the old
    // destination must survive (sibling staging — nothing is deleted
    // until the job succeeds) and staging must be cleaned up
    val boom = org.apache.spark.sql.functions.udf((k: Long) =>
      if (k >= 0) throw new RuntimeException("boom") else k)
    intercept[org.apache.spark.SparkException] {
      graft.ops.AvroFilesDynamic.writeDynamic(
        nation.withColumn("n_nationkey", boom(col("n_nationkey"))),
        out, Some(org.apache.spark.sql.functions.lit("r=9")), None,
        overwrite = true)
    }
    assert(graft.ops.AvroFiles.read(spark, Seq(s"$out/*/"), None)
      .count() === 25)
    val leftovers = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith(".graft-staging"))
    assert(leftovers.isEmpty,
      s"staging not cleaned: ${leftovers.map(_.getName).toSeq}")
  }

  test("storage avro streaming raises the actionable slot error") {
    val e = intercept[IllegalStateException] {
      Pipeline.build(spark, s"""
        |sources:
        |  - name: rd
        |    module: storage
        |    parameters: {path: "/tmp/nope", format: avro, stream: true}
        |""".stripMargin)
    }
    assert(e.getMessage.contains("spark-avro"))
  }

  /** Overwriting with a zero-row frame replaces the old data. A frame
    * that still has partitions (a filter no row passes) leaves
    * header-only container files and reads back as an empty frame
    * with its schema; a frame the optimizer folded to no partitions
    * (`WHERE false`) leaves no data file, and reading it fails. */
  test("avro overwrite with an empty frame: header-only files read " +
      "back as an empty frame") {
    val dir = java.nio.file.Files.createTempDirectory("avroempty").toString
    def write(out: String, where: String): Unit =
      Pipeline.execute(spark, s"""
        |sources:
        |  - name: nation
        |    module: storage
        |    parameters: {path: "$sf/nation.parquet"}
        |transforms:
        |  - name: sel
        |    module: sql
        |    inputs: [nation]
        |    parameters:
        |      sql: "SELECT n_nationkey, n_name FROM nation WHERE $where"
        |sinks:
        |  - name: snk
        |    module: storage
        |    input: sel
        |    parameters: {output: "$out", format: avro}
        |""".stripMargin)
    def read(out: String) = Pipeline.build(spark, s"""
      |sources:
      |  - name: rd
      |    module: storage
      |    parameters: {path: "$out", format: avro}
      |""".stripMargin)("rd")
    val empty = s"$dir/empty"
    write(empty, "true")
    assert(read(empty).count() === 25)
    write(empty, "n_nationkey < 0")
    val back = read(empty)
    assert(back.schema.fieldNames.toSeq === Seq("n_nationkey", "n_name"))
    assert(back.count() === 0)
    val none = s"$dir/none"
    write(none, "true")
    write(none, "false")
    val e = intercept[IllegalArgumentException](read(none))
    assert(e.getMessage.contains("no data files"), e.getMessage)
  }
}
