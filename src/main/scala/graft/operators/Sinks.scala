package graft.operators

import graft.Pipeline.ModuleCfg
import graft.config.Json._
import graft.ops.TemplateCompiler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Sink builders register the input collection under the sink's name
  * (so `waits` can reference it); actual writes happen in
  * SinkExecutor at execute() time, keeping build() side-effect free. */
object SinkExecutor {
  def execute(spark: SparkSession, cfg: ModuleCfg,
      input: Option[DataFrame],
      upstreamStrategy: Option[com.fasterxml.jackson.databind.JsonNode] =
        None): Unit =
    if (input.exists(_.isStreaming))
      graft.streaming.StreamRunner.start(cfg, input.get, upstreamStrategy)
    else cfg.module match {
      case "storage" | "files" => StorageSink.write(cfg, input.get)
      case "jdbc" => JdbcSink.write(cfg, input.get)
      case "iceberg" => IcebergSink.write(cfg, input.get)
      case "text" => TextSink.write(cfg, input.get)
      case "debug" => input.foreach(_.show(
        cfg.params.int("limit").getOrElse(20), truncate = false))
      case "copyfile" => CopyFileSink.write(cfg, input)
      case _ =>
    }
}

/** `storage` sink (reference `module/sink/StorageSink.java`): write
  * csv/json/avro/parquet; `numShards` → repartition; field-based
  * dynamic destinations → `partitionBy` (the scalable equivalent of
  * the reference's per-record path templates `StorageSink.java:222-303`). */
object StorageSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(cfg.name -> TransformCommon.single(cfg, inputs))

  /** Split a `${field}`-templated output path into (static base dir,
    * per-record relative template) — one rule for every format so
    * the avro and csv/json/parquet template sinks accept the same
    * paths. */
  private def splitTemplatePath(path: String): (String, String) = {
    val idx = path.indexOf("${")
    val slash = path.lastIndexOf('/', idx)
    require(slash > 0, s"dynamic output needs a static base dir: $path")
    (path.substring(0, slash), path.substring(slash + 1))
  }

  def write(cfg: ModuleCfg, df0: DataFrame): Unit = {
    val p = cfg.params
    // catalog-table sink (parity-plus): `table` + `bucketBy` writes
    // a bucketed table — the co-located-join lever at 100 TB: two
    // tables bucketed on the same keys with the same count
    // equi-join WITHOUT a shuffle (the scan's output partitioning
    // already satisfies the join's requirement). Plain `path` sinks
    // cannot carry bucket metadata (saveAsTable-only in Spark).
    if (p.str("table").isDefined) {
      val tbl = p.str("table").get
      var df = df0
      p.int("numShards").filter(_ > 0).foreach(n => df = df.repartition(n))
      var w = df.write
        .format(p.str("format").getOrElse("parquet"))
        .mode(p.str("mode").getOrElse("overwrite")
          .toLowerCase(java.util.Locale.ROOT))
      p("bucketBy").foreach { b =>
        val cols = b.strArr("fields")
        require(cols.nonEmpty && b.int("count").isDefined,
          s"storage ${cfg.name}: bucketBy needs {count, fields}")
        w = w.bucketBy(b.int("count").get, cols.head, cols.tail: _*)
        val sortCols = p.strArr("sortBy")
        if (sortCols.nonEmpty)
          w = w.sortBy(sortCols.head, sortCols.tail: _*)
      }
      val partitionFields = p.strArr("partitionFields")
      if (partitionFields.nonEmpty)
        w = w.partitionBy(partitionFields: _*)
      w.saveAsTable(tbl)
      return
    }
    val path = p.str("output").orElse(p.str("path")).getOrElse(
      throw new IllegalArgumentException("storage sink requires output"))
    val format = p.str("format").getOrElse("parquet")
    var df = df0
    p.int("numShards").filter(_ > 0).foreach(n => df = df.repartition(n))
    if (format == "tfrecord") {
      // tf.Example container files (ops/TFRecords): one file per
      // partition — numShards sets read-side parallelism since the
      // format is not splittable
      val mode = p.str("mode").getOrElse("overwrite")
        .toLowerCase(java.util.Locale.ROOT)
      require(mode == "overwrite",
        s"storage tfrecord sink supports mode: overwrite (got '$mode')")
      graft.ops.TFRecords.write(df, path, overwrite = true)
      return
    }
    if (format == "avro") {
      // container files via avro-core/avro-mapred (no spark-avro jar
      // in this image) — every case commits through
      // AvroFilesDynamic.writeDynamic. Destination parity with
      // csv/json/parquet (StorageSink.java:222-303): template paths
      // and partitionFields render per-record destinations; append
      // mode writes uniquely-named files next to prior runs.
      // case-insensitive like Spark's DataFrameWriter.mode (which
      // lowercases with Locale.ROOT — default-locale lowercasing
      // breaks "OVERWRITE" under Turkish-family locales)
      val mode = p.str("mode").getOrElse("overwrite")
        .toLowerCase(java.util.Locale.ROOT)
      // csv/json/parquet hand ignore/errorifexists to Spark's writer;
      // the avro path implements its modes itself and must not
      // silently treat them as a destructive overwrite
      require(mode == "overwrite" || mode == "append",
        s"storage avro sink supports mode: overwrite|append (got " +
          s"'$mode')")
      val codec = p.str("compression").orElse(p.str("codec"))
      val partitionFields = p.strArr("partitionFields") ++
        p.strArr("dynamicSplitFields")
      val (base, dest) =
        if (TemplateCompiler.referencedFields(path).nonEmpty) {
          val (b, rel) = splitTemplatePath(path)
          (b, Some(TemplateCompiler.compile(rel, df.schema)))
        } else if (partitionFields.nonEmpty)
          // hive-style key=value subdirs; values %-escaped like Spark's
          // partitionBy ('+' shielding handled on the csv read path).
          // Partition fields stay IN the records (avro is row-major;
          // readers get full rows without path reconstruction).
          (path, Some(concat_ws("/", partitionFields.map(f =>
            concat(lit(f + "="), coalesce(
              url_encode(col(f).cast(StringType)),
              lit("__HIVE_DEFAULT_PARTITION__")))): _*)))
        else (path, None)
      graft.ops.AvroFilesDynamic.writeDynamic(df, base, dest, codec,
        overwrite = mode != "append")
      return
    }
    def configure(w: org.apache.spark.sql.DataFrameWriter[
        org.apache.spark.sql.Row]) = {
      var writer = w
      if (format == "csv")
        writer = writer.option("header",
          p.bool("header").getOrElse(true).toString)
      p.str("compression").foreach(c =>
        writer = writer.option("compression", c))
      // generic writer options, mirroring the source-side passthrough
      // (csv quoting/sep, json timestampFormat, parquet block size…)
      p("options").foreach(_.names.foreach { k =>
        writer = writer.option(k, p("options").get.str(k).get)
      })
      writer
    }
    if (TemplateCompiler.referencedFields(path).nonEmpty) {
      // dynamic destinations (StorageSink.java:221-303 ObjectNameDoFn
      // + FileIO.writeDynamic): the rendered per-record template is
      // the destination. Spark-first: render as a column, partitionBy
      // it (one distributed write, records grouped per destination),
      // then one driver-side FS rename per DESTINATION (not per row)
      // from the __dest=<escaped> layout to the literal template path.
      // Deviation: each destination holds sharded part files rather
      // than one object (that is the scalable shape).
      val (base, rel) = splitTemplatePath(path)
      val dest = TemplateCompiler.compile(rel, df.schema)
      configure(df.withColumn("__dest", dest)
        .write.format(format).mode(p.str("mode").getOrElse("overwrite"))
        .partitionBy("__dest")).save(base)
      val conf = new org.apache.hadoop.conf.Configuration()
      val basePath = new org.apache.hadoop.fs.Path(base)
      val fs = basePath.getFileSystem(conf)
      val append = p.str("mode").exists(_.equalsIgnoreCase("append"))
      fs.listStatus(basePath).filter(_.getPath.getName.startsWith("__dest="))
        .foreach { st =>
          val escaped = st.getPath.getName.stripPrefix("__dest=")
          // Spark escapes partition values %XX-style ('/' → %2F);
          // shield literal '+' from URLDecoder's plus-is-space rule
          val key = java.net.URLDecoder.decode(
            escaped.replace("+", "%2B"), "UTF-8")
          val target = new org.apache.hadoop.fs.Path(basePath, key)
          // fs.rename signals failure by RETURNING false (cross-fs
          // move, name collision) — deleting staging after a silent
          // false would destroy the run's output with no error
          def renameOrFail(src: org.apache.hadoop.fs.Path,
              dst: org.apache.hadoop.fs.Path): Unit =
            if (!fs.rename(src, dst))
              throw new java.io.IOException(
                s"storage sink: rename $src -> $dst failed; staging " +
                  "left in place under " + st.getPath)
          if (append && fs.exists(target)) {
            // append mode must not replace prior runs' data: move the
            // new part files (UUID-unique names) into the existing
            // destination instead of deleting it
            fs.listStatus(st.getPath).filter(_.isFile).foreach { f =>
              renameOrFail(f.getPath,
                new org.apache.hadoop.fs.Path(target, f.getPath.getName))
            }
            fs.delete(st.getPath, true)
          } else {
            if (fs.exists(target)) fs.delete(target, true)
            Option(target.getParent).foreach(fs.mkdirs)
            renameOrFail(st.getPath, target)
          }
        }
    } else {
      var writer = configure(df.write.format(format).mode(
        p.str("mode").getOrElse("overwrite")))
      val partitionFields = p.strArr("partitionFields") ++
        p.strArr("dynamicSplitFields")
      if (partitionFields.nonEmpty)
        writer = writer.partitionBy(partitionFields: _*)
      writer.save(path)
    }
  }
}

/** `text` sink (reference `module/sink/TextSink.java:200-430` —
  * FreeMarker template per record, one OBJECT per record at a
  * templated path).
  *
  * Two modes, switched on whether the output path itself is
  * templated:
  *  - path contains `${field}` refs → per-record files (the
  *    reference's TemplateDoFn): path + body templates render as
  *    codegen'd columns, then a `foreachPartition` writes one file
  *    per record through the Hadoop FileSystem API (local/HDFS/
  *    object stores alike, one FS handle per partition).
  *  - plain path → one text line per record (scalable default; the
  *    distributed-write shape you want when records are rows, not
  *    documents).
  */
object TextSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(cfg.name -> TransformCommon.single(cfg, inputs))

  def write(cfg: ModuleCfg, df: DataFrame): Unit = {
    val p = cfg.params
    val out = p.str("output").orElse(p.str("path")).getOrElse(
      throw new IllegalArgumentException("text sink requires output"))
    val template = p.str("template").getOrElse("${" +
      df.columns.head + "}")
    val body = TemplateCompiler.compile(template, df.schema)
    if (TemplateCompiler.referencedFields(out).nonEmpty) {
      val pathCol = TemplateCompiler.compile(out, df.schema)
      val charset = p.str("charset").getOrElse("UTF-8")
      // repartition by rendered path: rows sharing a path colocate,
      // so clobbering collisions are detected exactly (otherwise two
      // records racing across partitions overwrite each other with a
      // nondeterministic winner). FileSystem handles are resolved per
      // scheme+authority, not reused across schemes.
      df.select(pathCol.cast(StringType).as("__path"),
          body.cast(StringType).as("__body"))
        .repartition(col("__path"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val conf = new org.apache.hadoop.conf.Configuration()
          val fsCache = scala.collection.mutable.Map
            .empty[String, org.apache.hadoop.fs.FileSystem]
          val seen = scala.collection.mutable.Set.empty[String]
          rows.foreach { r =>
            val pathStr = r.getString(0)
            if (!seen.add(pathStr))
              throw new IllegalStateException(
                s"text sink: multiple records render the same path " +
                  s"$pathStr — make the path template unique per record")
            val path = new org.apache.hadoop.fs.Path(pathStr)
            val uri = path.toUri
            val fsKey = s"${uri.getScheme}://${uri.getAuthority}"
            val fs = fsCache.getOrElseUpdate(fsKey, {
              val f = path.getFileSystem(conf)
              f.setWriteChecksum(false) // no .crc sidecars per record
              f
            })
            val os = fs.create(path, true)
            try os.write(r.getString(1).getBytes(charset))
            finally os.close()
          }
        }
    } else
      df.select(body.cast(StringType).as("value"))
        .write.mode("overwrite").text(out)
  }
}

/** `iceberg` sink slot (reference `sink/IcebergSink.java`): writeTo
  * the catalog table (append/overwrite). Runtime jar not bundled —
  * missing provider raises an actionable error naming the jar. */
object IcebergSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(cfg.name -> TransformCommon.single(cfg, inputs))

  def write(cfg: ModuleCfg, df: DataFrame): Unit = {
    val p = cfg.params
    val table = p.str("table").orElse(p.str("output")).getOrElse(
      throw new IllegalArgumentException("iceberg sink requires table"))
    try {
      val w = df.writeTo(table)
      p.str("mode").getOrElse("append") match {
        case "overwrite" => w.replace()
        case "create" => w.create()
        case _ => w.append()
      }
    } catch {
      case e: Exception
          if e.toString.contains("Failed to find") ||
            e.toString.contains("ClassNotFound") ||
            e.toString.contains("Catalog") =>
        throw new IllegalStateException(
          "iceberg sink requires the iceberg-spark-runtime jar and a " +
            "configured catalog (--packages org.apache.iceberg:" +
            "iceberg-spark-runtime-<spark>_2.13:<version>)", e)
    }
  }
}

object DebugSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(cfg.name -> TransformCommon.single(cfg, inputs))
}

/** `jdbc` sink (reference `module/sink/JdbcSink.java` +
  * `util/gcp/JdbcUtil.createStatement:233-420`): plain inserts go
  * through Spark's built-in JDBC writer; `op: insertOrUpdate |
  * insertOrDoNothing` generates the dialect-specific upsert statement
  * (mysql ON DUPLICATE KEY, postgresql/h2 ON CONFLICT, sqlserver
  * MERGE) and executes it batched per partition. */
object JdbcSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] =
    Map(cfg.name -> TransformCommon.single(cfg, inputs))

  def write(cfg: ModuleCfg, df: DataFrame): Unit = {
    val p = cfg.params
    val url = p.str("url").getOrElse(
      throw new IllegalArgumentException("jdbc sink requires url"))
    val table = p.str("table").getOrElse(
      throw new IllegalArgumentException("jdbc sink requires table"))
    val op = p.str("op").getOrElse("insert")
    if (op == "insert" || op == "INSERT") {
      var w = df.write.format("jdbc")
        .option("url", url).option("dbtable", table)
        .mode(p.str("mode").getOrElse("append"))
      p.str("driver").foreach(d => w = w.option("driver", d))
      p.str("user").foreach(u => w = w.option("user", u))
      p.str("password").foreach(x => w = w.option("password", x))
      p.int("batchSize").foreach(b => w = w.option("batchsize", b.toString))
      // cap concurrent DB connections (Spark coalesces to n tasks);
      // parity-plus: at cluster scale an uncapped write opens one
      // connection per input partition
      p.int("numPartitions").foreach(n =>
        w = w.option("numPartitions", n.toString))
      w.save()
    } else {
      val keys = p.strArr("keyFields")
      require(keys.nonEmpty, s"jdbc op $op requires keyFields")
      val db = dialect(url)
      val sql = upsertStatement(db, table, df.columns.toSeq, keys, op)
      val order = upsertParamOrder(db, df.columns.toSeq, keys, op).toArray
      val user = p.str("user")
      val password = p.str("password")
      val batchSize = p.int("batchSize").getOrElse(1000)
      // same connection-fan-out cap as the insert path
      val capped = p.int("numPartitions")
        .map(df.coalesce).getOrElse(df)
      capped.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        if (rows.nonEmpty) {
          val props = new java.util.Properties()
          user.foreach(props.setProperty("user", _))
          password.foreach(props.setProperty("password", _))
          val conn = java.sql.DriverManager.getConnection(url, props)
          try {
            conn.setAutoCommit(false)
            val ps = conn.prepareStatement(sql)
            var n = 0
            rows.foreach { r =>
              var i = 0
              while (i < order.length) {
                ps.setObject(i + 1, r.get(order(i))); i += 1
              }
              ps.addBatch()
              n += 1
              if (n % batchSize == 0) { ps.executeBatch(); conn.commit() }
            }
            ps.executeBatch(); conn.commit()
          } finally conn.close()
        }
      }
    }
  }

  /** DB family from the JDBC url (JdbcUtil.DB). */
  def dialect(url: String): String =
    if (url.startsWith("jdbc:mysql")) "mysql"
    else if (url.startsWith("jdbc:postgresql")) "postgresql"
    else if (url.startsWith("jdbc:h2")) "h2"
    else if (url.startsWith("jdbc:sqlserver")) "sqlserver"
    else if (url.startsWith("jdbc:derby")) "derby"
    else throw new IllegalArgumentException(
      s"unsupported jdbc upsert dialect for url: $url")

  /** Column index (into `cols`) bound at each `?` of
    * `upsertStatement`, in statement order. Identity for the
    * single-VALUES dialects; Derby's MERGE repeats columns (ON keys,
    * UPDATE SET non-keys, INSERT values). */
  def upsertParamOrder(db: String, cols: Seq[String],
      keys: Seq[String], op: String): Seq[Int] = db match {
    case "derby" =>
      val update = op == "insertOrUpdate" || op == "INSERT_OR_UPDATE"
      val keyIdx = keys.map(cols.indexOf)
      val nonKeyIdx = cols.indices.filterNot(keyIdx.contains)
      keyIdx ++ (if (update) nonKeyIdx else Nil) ++ cols.indices
    case _ => cols.indices
  }

  /** Upsert statement per dialect (JdbcUtil.createStatement). */
  def upsertStatement(db: String, table: String, cols: Seq[String],
      keys: Seq[String], op: String): String = {
    val update = op == "insertOrUpdate" || op == "INSERT_OR_UPDATE"
    val nonKeys = cols.filterNot(keys.contains)
    val insert = s"INSERT INTO $table (${cols.mkString(",")}) VALUES " +
      s"(${cols.map(_ => "?").mkString(",")})"
    db match {
      case "mysql" =>
        // doNothing = touch only key cols, the reference's trick
        val set = (if (update) nonKeys else keys)
          .map(c => s"`$c` = VALUES(`$c`)").mkString(",")
        s"$insert ON DUPLICATE KEY UPDATE $set"
      case "postgresql" | "h2" =>
        val action =
          if (update) "DO UPDATE SET " +
            nonKeys.map(c => s"$c = EXCLUDED.$c").mkString(",")
          else "DO NOTHING"
        s"$insert ON CONFLICT (${keys.mkString(",")}) $action"
      case "sqlserver" =>
        val on = keys.map(k => s"T.$k = S.$k").mkString(" AND ")
        val matched =
          if (update && nonKeys.nonEmpty)
            " WHEN MATCHED THEN UPDATE SET " +
              nonKeys.map(c => s"T.$c = S.$c").mkString(",")
          else ""
        s"MERGE INTO $table AS T USING " +
          s"(VALUES (${cols.map(_ => "?").mkString(",")})) AS " +
          s"S (${cols.mkString(",")}) ON ($on)$matched" +
          s" WHEN NOT MATCHED THEN INSERT (${cols.mkString(",")})" +
          s" VALUES (${cols.map(c => s"S.$c").mkString(",")});"
      case "derby" =>
        // Derby's MERGE source must be a table (no VALUES derived
        // table) — use the one-row SYSIBM.SYSDUMMY1 and bind the row
        // as plain parameters; upsertParamOrder gives the binding.
        val on = keys.map(k => s"T.$k = ?").mkString(" AND ")
        val matched =
          if (update && nonKeys.nonEmpty)
            " WHEN MATCHED THEN UPDATE SET " +
              nonKeys.map(c => s"$c = ?").mkString(",")
          else ""
        s"MERGE INTO $table T USING SYSIBM.SYSDUMMY1 ON ($on)$matched" +
          s" WHEN NOT MATCHED THEN INSERT (${cols.mkString(",")})" +
          s" VALUES (${cols.map(_ => "?").mkString(",")})"
      case other => throw new IllegalArgumentException(
        s"unsupported dialect: $other")
    }
  }
}

/** `pubsub` sink slot (reference `sink/PubSubSink.java`): validated
  * topic contract, then the same connector-slot error as the source —
  * publish via a Pub/Sub→Kafka bridge (kafka foreachBatch writer) or
  * the Pub/Sub Lite connector. */
object PubSubSink {
  def build(spark: SparkSession, cfg: ModuleCfg,
      inputs: Map[String, DataFrame]): Map[String, DataFrame] = {
    cfg.params.str("topic").getOrElse(
      throw new IllegalArgumentException("pubsub sink requires topic"))
    throw new IllegalStateException(
      "pubsub sink is a connector slot: no Structured Streaming " +
        "DataSource exists for Cloud Pub/Sub — bridge through kafka " +
        "or the Pub/Sub Lite connector " +
        "(com.google.cloud:pubsublite-spark-sql-streaming)")
  }
}
