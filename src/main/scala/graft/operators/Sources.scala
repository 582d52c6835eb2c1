package graft.operators

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import graft.ops.SelectCompiler
import graft.expr.FilterCompiler
import graft.schema.SchemaMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Shared source post-processing: timestampAttribute → `__event_time`
  * column (the reference attaches event time to every element —
  * `module/Source.java:46-76`), then optional filter/select. */
object SourceCommon {
  def finish(df: DataFrame, cfg: ModuleCfg): Map[String, DataFrame] = {
    var cur = df
    cfg.node.str("timestampAttribute").foreach { attr =>
      // epoch-unit-aware (ns/µs/ms/s by magnitude) for numeric columns
      cur = cur.withColumn("__event_time",
        graft.streaming.Strategy.toTimestamp(cur, attr))
    }
    cfg.param("filter").foreach { f =>
      cur = cur.filter(FilterCompiler.compile(f, cur.schema))
    }
    cfg.param("select").foreach { s => cur = SelectCompiler(cur, s) }
    Map(cfg.name -> cur)
  }
}

/** `create` source — in-memory data generation (reference
  * `source/CreateSource.java`): literal `elements` with an explicit
  * schema, or a `from`/`to`/`interval` sequence built on
  * `spark.range` (distributed, like the reference's splittable DoFn
  * `CreateSource.java:394-444`). */
object CreateSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    val df = p("elements") match {
      case Some(elements) =>
        // inline elements → JSON lines → schema'd reader
        val json = elements.elems.map(_.toString)
        import spark.implicits._
        val ds = spark.createDataset(json)
        p("schema").orElse(p("fields")) match {
          case Some(s) =>
            val st =
              if (s.isArray) StructType(s.elems.map(SchemaMapper.toStructField))
              else SchemaMapper.toStructType(s)
            spark.read.schema(st).json(ds)
          case None => spark.read.json(ds)
        }
      case None =>
        // sequence: from/to/interval over int64 or date/timestamp
        val from = p("from").map(_.asText).getOrElse("0")
        val to = p("to").map(_.asText).getOrElse("0")
        val interval = p("interval").map(_.asLong).getOrElse(1L)
        val typ = p.str("type").getOrElse {
          if (from.matches("""\d{4}-\d{2}-\d{2}""")) "date"
          else if (from.matches("""-?\d+""")) "int64"
          else "timestamp"
        }
        typ match {
          case "int64" | "long" | "int32" | "int" =>
            spark.range(from.toLong, to.toLong + 1, interval)
              .withColumnRenamed("id", "value")
          case "date" =>
            spark.range(0, 1 +
                (java.time.LocalDate.parse(to).toEpochDay -
                  java.time.LocalDate.parse(from).toEpochDay) / interval,
                1)
              .select(date_add(to_date(lit(from)),
                (col("id") * interval).cast(IntegerType)).as("value"))
          case _ => // timestamp sequence, interval in seconds
            val f = java.time.Instant.parse(from).getEpochSecond
            val t = java.time.Instant.parse(to).getEpochSecond
            spark.range(f, t + 1, interval)
              .select(timestamp_seconds(col("id")).as("value"))
        }
    }
    SourceCommon.finish(df, cfg)
  }
}

/** `storage`/`files` source — avro/parquet/csv/json readers
  * (reference `source/StorageSource.java:88-93,209-239`). Field
  * projection and filters become Catalyst pushdown into the scan. */
object StorageSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    // catalog-table source: reads carry the table's bucket metadata,
    // so joins on the bucket keys skip their shuffle (see the sink's
    // bucketBy)
    if (p.str("table").isDefined) {
      var df = spark.table(p.str("table").get)
      val fields = p.strArr("fields")
      if (fields.nonEmpty) df = df.select(fields.map(col): _*)
      return SourceCommon.finish(df, cfg)
    }
    val paths = p.strArr("path") ++ p.strArr("paths") ++
      p.strArr("input") ++ p.strArr("inputs")
    require(paths.nonEmpty, s"storage source requires path: ${cfg.name}")
    val format = p.str("format").getOrElse {
      paths.head.split('.').lastOption.getOrElse("parquet") match {
        case "csv" => "csv" case "json" | "jsonl" => "json"
        case "avro" => "avro" case "tfrecord" => "tfrecord"
        case _ => "parquet"
      }
    }
    val streaming = p.bool("stream").getOrElse(false)
    if (format == "avro" && streaming)
      throw new IllegalStateException(
        "storage avro streaming needs the spark-avro module on the " +
          "classpath (--packages org.apache.spark:spark-avro_2.13:" +
          "<spark version>); batch avro, and parquet/csv/json in both " +
          "modes, are built in")
    if (format == "tfrecord" && streaming)
      throw new IllegalStateException(
        "storage tfrecord is batch-only (the format has no sync " +
          "markers for incremental tailing); parquet/csv/json stream")
    val declared = p("schema").map(SchemaMapper.toStructType)
    // csv reads a header row and infers column types unless declared
    val options = (if (format == "csv")
        Map("header" -> p.bool("header").getOrElse(true).toString,
          "inferSchema" -> declared.isEmpty.toString)
      else Map.empty[String, String]) ++
      p("options").toSeq.flatMap(o => o.names.map(k => k -> o.str(k).get))
    var df =
      if (format == "tfrecord") {
        // tf.Example records carry only bytes/float/int64 lists, so
        // the logical schema must be declared (ops/TFRecords)
        val st = declared.getOrElse(
          throw new IllegalArgumentException(
            "storage tfrecord source requires schema (tf.Example has " +
              "no embedded logical types)"))
        graft.ops.TFRecords.read(spark, paths, st)
      } else if (format == "avro") {
        // container files via avro-core/avro-mapred (no spark-avro
        // jar in this image) — block-splittable, see ops/AvroFiles
        graft.ops.AvroFiles.read(spark, paths, declared)
      } else if (streaming) {
        // Structured Streaming file source: same formats and options;
        // it needs an explicit schema, so one is inferred from the
        // files present now (driver-side, once)
        val r = spark.readStream.format(format).options(options).schema(
          declared.getOrElse(
            InferredSchemas.load(spark, format, options, paths).schema))
        // readStream.load takes one path; several paths union
        paths.map(r.load).reduceLeft(_.unionByName(_))
      } else declared match {
        case Some(st) =>
          spark.read.format(format).options(options).schema(st)
            .load(paths: _*)
        case None => InferredSchemas.load(spark, format, options, paths)
      }
    // `fields` projection prunes the scan (StorageSource.java:209-239)
    val fields = p.strArr("fields")
    if (fields.nonEmpty) df = df.select(fields.map(col): _*)
    SourceCommon.finish(df, cfg)
  }
}

/** A file read whose schema Spark infers, remembering that schema.
  * The key holds everything the schema depends on: format, paths,
  * reader options, the session's SQL conf and the (path, length,
  * modification time) of every leaf file under the globbed paths,
  * hidden files included — more than Spark's own listing reads, so a
  * changed listing can only miss. A hit still lists the files and
  * hands the schema to the reader, which then runs no inference job;
  * a miss returns the frame Spark built while inferring. Schemas
  * only, never data; the last 64 keys are kept. */
private object InferredSchemas {
  private case class Key(format: String, paths: Seq[String],
      options: Map[String, String], conf: Map[String, String],
      files: Seq[(String, Long, Long)])

  private val memo = new java.util.LinkedHashMap[Key, StructType](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, StructType]): Boolean = size > 64
  }

  def load(spark: SparkSession, format: String,
      options: Map[String, String], paths: Seq[String]): DataFrame = {
    val reader = spark.read.format(format).options(options)
    val key = leafFiles(spark, paths)
      .map(Key(format, paths, options, spark.conf.getAll, _))
    key.flatMap(k => memo.synchronized(Option(memo.get(k)))) match {
      case Some(schema) => reader.schema(schema).load(paths: _*)
      case None =>
        val df = reader.load(paths: _*)
        // a listing that changed while Spark inferred keeps nothing
        key.filter(k => leafFiles(spark, paths).contains(k.files))
          .foreach(k => memo.synchronized(memo.put(k, df.schema)))
        df
    }
  }

  /** (path, length, modification time) of every file under `paths`;
    * None when a path matches nothing or cannot be listed, so the read
    * skips the memo and Spark reports the path as it always has. */
  private def leafFiles(spark: SparkSession, paths: Seq[String])
      : Option[Seq[(String, Long, Long)]] = scala.util.Try {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
    val hadoop = spark.sessionState.newHadoopConf()
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq
        .sortBy(_.getPath.toString).flatMap(leaves(fs, _))
      else Seq(st)
    val matched = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hadoop)
      Option(fs.globStatus(path)).filter(_.nonEmpty)
        .map(_.toSeq.flatMap(leaves(fs, _)))
    }
    if (matched.contains(None)) None
    else Some(matched.flatten.flatten.map(st =>
      (st.getPath.toString, st.getLen, st.getModificationTime)))
  }.toOption.flatten
}

/** `rate` streaming source — the reference's streaming `create` rate
  * mode (`CreateSource.java:159-172`, Beam GenerateSequence) maps to
  * Spark's built-in rate source: (timestamp, value) rows. */
object RateSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    var r = spark.readStream.format("rate")
      .option("rowsPerSecond",
        p.int("rowsPerSecond").getOrElse(10).toString)
    p.int("numPartitions").foreach(n =>
      r = r.option("numPartitions", n.toString))
    var df = r.load()
    if (!cfg.node.str("timestampAttribute").isDefined)
      df = df.withColumn("__event_time", col("timestamp"))
    SourceCommon.finish(df, cfg)
  }
}

/** `jdbc` source — Spark's built-in partitioned JDBC reader covers the
  * reference's keyFields/splitSize parallel split (`JdbcSource.java:56-62`). */
object JdbcSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    var reader = spark.read.format("jdbc")
      .option("url", p.str("url").getOrElse(
        throw new IllegalArgumentException("jdbc requires url")))
    p.str("table").foreach(t => reader = reader.option("dbtable", t))
    p.str("query").foreach(q => reader = reader.option("query", q))
    p.str("driver").foreach(d => reader = reader.option("driver", d))
    p.str("user").foreach(u => reader = reader.option("user", u))
    p.str("password").foreach(w => reader = reader.option("password", w))
    p.str("keyField").foreach { k => // split parallel read
      reader = reader.option("partitionColumn", k)
        .option("numPartitions", p.int("numPartitions").getOrElse(8).toString)
        .option("lowerBound", p.str("lowerBound").getOrElse("0"))
        .option("upperBound", p.str("upperBound").getOrElse("1000000"))
    }
    reader = reader.option("fetchsize",
      p.int("fetchSize").getOrElse(50000).toString) // JdbcSource.java:346
    SourceCommon.finish(reader.load(), cfg)
  }
}

/** `kafka` source (reference `source/KafkaSource.java:120-260`):
  * maps to Structured Streaming's kafka format — bootstrapServers /
  * topic|topics|topicPattern / groupId / startOffset. Output carries
  * the raw kafka columns (key, value binary, topic, partition,
  * offset, timestamp); payload decoding composes with the
  * `deserialize` module, exactly like the reference's Format step.
  * The connector jar (spark-sql-kafka-0-10) is NOT bundled — config
  * validates first, then a missing provider raises an actionable
  * error naming the jar. */
object KafkaSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    val servers = p.str("bootstrapServers").getOrElse(
      throw new IllegalArgumentException(
        "kafka source requires bootstrapServers"))
    val topics = p.str("topic").map(Seq(_)).getOrElse(p.strArr("topics"))
    val topicPattern = p.str("topicPattern")
    if (topics.isEmpty && topicPattern.isEmpty)
      throw new IllegalArgumentException(
        "kafka source requires topic, topics or topicPattern")
    var r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
    if (topics.nonEmpty) r = r.option("subscribe", topics.mkString(","))
    topicPattern.foreach(tp => r = r.option("subscribePattern", tp))
    p.str("groupId").foreach(g => r = r.option("kafka.group.id", g))
    p.str("startOffset").foreach { o => // earliest|latest
      r = r.option("startingOffsets", o)
    }
    val df =
      try r.load()
      catch {
        case e: Exception
            if e.toString.contains("Failed to find") ||
              e.toString.contains("ClassNotFound") =>
          throw new IllegalStateException(
            "kafka source requires the spark-sql-kafka-0-10 connector " +
              "jar on the classpath (--packages org.apache.spark:" +
              "spark-sql-kafka-0-10_2.13:<spark version>)", e)
      }
    SourceCommon.finish(
      df.withColumn("__event_time", col("timestamp")), cfg)
  }
}

/** `websocket` source (reference `source/WebSocketSource.java`):
  * streaming frames from a ws:// subscription via the custom
  * DataSource V2 micro-batch provider (`graft.sources.WebSocketStream`
  * — driver-buffered frames, the shape of Spark's own socket source).
  * Subscription `requests` fire on open, `heartbeatRequests` on a
  * timer; payloads parse per `format`:
  *  - `json` (+ `schema`): `from_json` into a struct, flattened to
  *    top-level columns (reference outputType element); malformed
  *    payloads route to `<name>.failures`. `isArrayContent: true`
  *    explodes a JSON-array payload into one record per element.
  *  - `text` / `bytes`: raw payload column.
  * `receivedTimestampField` names the receive-time column; a
  * field-typed `eventtimeField` becomes `__event_time`.
  *
  * Caveat (same as the http source): a pipeline consuming BOTH the
  * main output and `.failures` runs two streaming queries, i.e. two
  * independent subscriptions to the endpoint. */
object WebSocketSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    val endpoint = p.str("endpoint").getOrElse(
      throw new IllegalArgumentException(
        "websocket source requires endpoint"))
    var r = spark.readStream
      .format(classOf[graft.sources.WebSocketTableProvider].getName)
      .option("endpoint", endpoint)
    p("requests").foreach(n => r = r.option("requests", n.toString))
    p("heartbeatRequests").foreach(n =>
      r = r.option("heartbeatRequests", n.toString))
    p.int("heartbeatIntervalSeconds").foreach(s =>
      r = r.option("heartbeatIntervalSeconds", s.toString))
    p.int("requestIntervalSeconds").foreach(s =>
      r = r.option("requestIntervalSeconds", s.toString))
    var df = r.load() // payload binary, timestamp
    p.str("receivedTimestampField").foreach(f =>
      df = df.withColumn(f, col("timestamp")))
    val format = p.str("format").getOrElse("json")
    val out: Map[String, DataFrame] = format match {
      case "json" =>
        val st = p("schema").map(graft.schema.SchemaMapper.toStructType)
          .getOrElse(throw new IllegalArgumentException(
            "websocket json format requires schema"))
        val text = decode(col("payload"), "UTF-8")
        val keep = df.columns.filterNot(_ == "payload").map(col)
        if (p.bool("isArrayContent").getOrElse(false)) {
          // a frame carrying a JSON ARRAY fans out one record per
          // element (WebSocketSource isArrayContent)
          val parsed = df
            .withColumn("__arr",
              from_json(text, ArrayType(st)))
            .withColumn("__bad",
              col("__arr").isNull && col("payload").isNotNull)
          val good = parsed.filter(!col("__bad"))
            .select((keep :+ explode(col("__arr")).as("__rec")).toSeq: _*)
            .select((keep :+ col("__rec.*")).toSeq: _*)
          val bad = parsed.filter(col("__bad"))
            .select(text.as("payload"), col("timestamp"))
          Map(cfg.name -> good, s"${cfg.name}.failures" -> bad)
        } else {
          val st2 = st.add("_corrupt_record", StringType)
          val parsed = df
            .withColumn("__rec", from_json(text, st2,
              Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
            .withColumn("__bad",
              col("__rec._corrupt_record").isNotNull)
          val good = parsed.filter(!col("__bad"))
            .withColumn("__rec",
              col("__rec").dropFields("_corrupt_record"))
            .select((keep :+ col("__rec.*")).toSeq: _*)
          val bad = parsed.filter(col("__bad"))
            .select(text.as("payload"), col("timestamp"))
          Map(cfg.name -> good, s"${cfg.name}.failures" -> bad)
        }
      case "text" =>
        Map(cfg.name -> df.withColumn("payload",
          decode(col("payload"), "UTF-8")))
      case "bytes" => Map(cfg.name -> df)
      case other => throw new IllegalArgumentException(
        s"websocket format: $other (json|text|bytes)")
    }
    val main = out(cfg.name)
    // a typo'd eventtimeField must not silently fall back to receive
    // time — windows would aggregate over arrival order untraceably
    p.str("eventtimeField").foreach(f =>
      require(main.columns.contains(f),
        s"websocket eventtimeField '$f' is not an output column " +
          s"(has: ${main.columns.sorted.mkString(", ")})"))
    val withEt = p.str("eventtimeField")
      .map(f => main.withColumn("__event_time",
        graft.streaming.Strategy.toTimestamp(main, f)))
      .getOrElse(main.withColumn("__event_time", col("timestamp")))
    out ++ SourceCommon.finish(withEt, cfg)
  }
}

/** `iceberg` source/sink slots (reference `source/IcebergSource.java:108`,
  * `sink/IcebergSink.java`): table reads/writes through the iceberg
  * Spark runtime catalog. The runtime jar is NOT bundled — config
  * validates first, then a missing provider raises an actionable
  * error naming the jar. */
object IcebergSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    val table = p.str("table").orElse(p.str("path")).getOrElse(
      throw new IllegalArgumentException(
        "iceberg source requires table or path"))
    val df =
      try spark.read.format("iceberg").load(table)
      catch {
        case e: Exception
            if e.toString.contains("Failed to find") ||
              e.toString.contains("ClassNotFound") =>
          throw new IllegalStateException(
            "iceberg source requires the iceberg-spark-runtime jar on " +
              "the classpath (--packages org.apache.iceberg:" +
              "iceberg-spark-runtime-<spark>_2.13:<version>)", e)
      }
    SourceCommon.finish(df, cfg)
  }
}

/** `pubsub` source slot (reference `source/PubSubSource.java`, 532
  * LoC — its most-used streaming ingress). Validates the reference's
  * parameter contract (`topic` or `subscription`, `idAttribute`,
  * `format`), then raises an actionable connector error: Google
  * Cloud Pub/Sub has no official Structured Streaming DataSource —
  * the supported paths are the Pub/Sub Lite connector
  * (pubsublite-spark-sql-streaming) or a Pub/Sub→Kafka bridge into
  * the kafka source, with `deserialize` handling the payload format
  * exactly as it would here. */
object PubSubSource {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    val p = cfg.params
    if (p.str("subscription").isEmpty && p.str("topic").isEmpty)
      throw new IllegalArgumentException(
        "pubsub source requires subscription or topic")
    throw new IllegalStateException(
      "pubsub source is a connector slot: no Structured Streaming " +
        "DataSource exists for Cloud Pub/Sub — use the Pub/Sub Lite " +
        "connector (com.google.cloud:pubsublite-spark-sql-streaming) " +
        "or bridge the subscription into the kafka source; compose " +
        "with the deserialize module for payload decoding")
  }
}
