package graft.ops

import org.apache.avro.{Schema => ASchema}
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.util.SerializableConfiguration

/** Avro container-file write — the storage sink's one avro path, for
  * plain outputs and for partitionFields / template destinations
  * (reference `sink/StorageSink.java:152-165,222-303`).
  *
  * Commit protocol, in order:
  *  1. tasks write attempt-unique files into a run-scoped SIBLING
  *     staging dir under an `.inprogress` suffix, and rename to the
  *     committed name (`part-<pid>-a<attempt>-<run>.avro`) only after
  *     a successful close — a killed or failed attempt (speculation,
  *     zombie retries) leaves only `.inprogress` files, which the
  *     commit step ignores, so a partial file can never be selected;
  *     the existing destination is untouched while the job runs;
  *  2. only after the whole job succeeds: `overwrite` deletes the old
  *     base (delete checked), then the driver picks one committed
  *     attempt per (destination, partition) — all committed attempts
  *     hold the complete partition, the highest id is taken for
  *     determinism — renames it to its final `part-<pid>-<run>.avro`
  *     path (each rename checked), and drops other attempts' files;
  *  3. staging is removed — kept in place when any commit-phase step
  *     failed after the job succeeded (the staged files may then be
  *     the only copy, and the error names the dir); cleanup failures
  *     never mask the job's own error.
  *
  * `dest` renders each record's destination under `base`; it adds
  * the one shuffle that places each destination in a single task
  * (one file per destination). Without `dest` every record goes to
  * `base` itself: the write keeps the input partitioning — that
  * shuffle would collapse it into one task — and writes one container
  * file per partition, rows or not, as Hadoop's avro output format
  * does, so a zero-row frame with partitions reads back as an empty
  * frame with its schema. Unlike parquet `partitionBy`, partition
  * fields stay IN the records. Executor-side
  * filesystem access uses the session's Hadoop configuration
  * (credentials/endpoints), broadcast per job.
  *
  * Driver-side commit work is one rename per final file — with
  * `dest` that is one per destination (plus retried attempts'
  * discards), the same order as the csv/json/parquet template path's
  * per-destination rename loop and of Spark's own v1 file committer;
  * destinations ≪ rows by construction, so the loop stays bounded at
  * scale. */
object AvroFilesDynamic {

  def writeDynamic(df: DataFrame, base: String,
      dest: Option[org.apache.spark.sql.Column], codec: Option[String],
      overwrite: Boolean): Unit = {
    val payload = df.schema
    val json = AvroCodec.toAvroSchema(payload).toString
    val codecName = codec.filterNot(c => c == "none" || c == "null")
    val sc = df.sparkSession.sparkContext
    val hconf = sc.hadoopConfiguration
    val driverFs = new Path(base).getFileSystem(hconf)
    // qualified absolute paths: listFiles returns fully-qualified
    // paths, so relative-path arithmetic against an unqualified base
    // would silently mis-place every file
    val basePath = driverFs.makeQualified(new Path(base))
    val run = java.util.UUID.randomUUID().toString.take(8)
    // SIBLING staging: the old destination stays intact until the job
    // has succeeded, so overwrite is crash-safe (nothing is deleted
    // on a failed run). When basePath IS a filesystem/bucket root it
    // has no sibling — staging then lives UNDER basePath and the
    // overwrite step below spares it explicitly (deleting basePath
    // recursively would wipe the freshly staged data too).
    val parentOpt = Option(basePath.getParent)
    val stagingParent = parentOpt.getOrElse(basePath)
    driverFs.mkdirs(stagingParent)
    val staging = driverFs.makeQualified(
      new Path(stagingParent,
        s".graft-staging-$run-${basePath.getName}"))
    val stagingStr = staging.toString
    // run-liveness marker: tasks refuse to (re)create staged files
    // once the driver has finalized the run and removed staging, so a
    // zombie/speculative attempt that outlives the job cannot
    // resurrect an orphaned .graft-staging-* dir (a narrow
    // check-then-create race remains — it can leave at most one
    // attempt's `.inprogress` files, never committed data)
    val marker = new Path(staging, "_GRAFT_RUNNING")
    driverFs.mkdirs(staging)
    driverFs.create(marker, true).close()
    val markerStr = marker.toString
    val bconf = new SerializableConfiguration(hconf)
    var stagedDf = df
      .select(dest.getOrElse(lit(""))
          .cast(org.apache.spark.sql.types.StringType).as("__dest"),
        struct(payload.fieldNames.toSeq.map(col): _*).as("__row"))
    // a plain Boolean: the task closure must not capture the Column
    val toBase = dest.isEmpty
    if (!toBase) stagedDf = stagedDf.repartition(col("__dest"))

    def writeTask(it: Iterator[Row]): Unit = if (it.hasNext || toBase) {
      val s = new ASchema.Parser().parse(json)
      val conf = bconf.value
      // dest -> (writer, in-progress path, committed path)
      val writers = scala.collection.mutable.Map[String,
        (org.apache.avro.file.DataFileWriter[GenericRecord],
          Path, Path)]()
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val attempt = tc.taskAttemptId()
      // zombie guard, checked once per task at its first writer
      // creation: a live task's creates always precede job end (the
      // job waits on it), so only a zombie/speculative attempt that
      // outlived the run can see the marker gone — one existence RPC
      // per task, not per destination
      var markerChecked = false
      var failed: Throwable = null
      def writerFor(d: String) =
        writers.getOrElseUpdate(d, {
          val dir = if (d.isEmpty) new Path(stagingStr)
            else new Path(stagingStr, d)
          val done = new Path(dir,
            f"part-$pid%05d-a$attempt-$run.avro")
          val tmp = done.suffix(".inprogress")
          val fs = tmp.getFileSystem(conf)
          // once the driver finalized the run the marker is gone —
          // creating a file now would resurrect the staging dir
          // nothing will ever clean up
          if (!markerChecked) {
            if (!fs.exists(new Path(markerStr)))
              throw new java.io.IOException(
                "avro write: stale task attempt — run already " +
                  s"finalized (missing $markerStr)")
            markerChecked = true
          }
          val dfw = new org.apache.avro.file.DataFileWriter[
            GenericRecord](
            new org.apache.avro.generic.GenericDatumWriter[
              GenericRecord](s))
          codecName.foreach(c => dfw.setCodec(
            org.apache.avro.file.CodecFactory.fromString(c)))
          dfw.create(s, fs.create(tmp, true))
          (dfw, tmp, done)
        })._1
      try {
        it.foreach { r =>
          writerFor(Option(r.getString(0)).getOrElse(""))
            .append(AvroCodec.rowToRecord(r.getStruct(1), payload, s))
        }
        // no destination column: this partition's file exists even
        // when it has no rows
        if (toBase) writerFor("")
      } catch { case t: Throwable => failed = t; throw t }
      finally {
        // close() flushes each writer's final buffered block — a
        // failure IS data loss and must fail the task, but every
        // writer still gets closed (no leaked streams/leases)
        writers.values.foreach { case (w, _, _) =>
          try w.close()
          catch {
            case t: Throwable => if (failed == null) failed = t
          }
        }
        if (failed != null) throw failed
      }
      // only a fully-written-and-closed attempt commits its files; a
      // task killed or failed anywhere above leaves `.inprogress`
      // names the driver-side commit step never matches
      if (writers.nonEmpty) {
        // re-check liveness before renaming to committed names: a
        // zombie that passed the first-writer check, then outlived
        // the run (driver finalized, staging gone) while creating
        // MORE destination writers, must not promote its files —
        // resurrected staging may then hold only `.inprogress` names
        val fs0 = writers.values.head._2.getFileSystem(conf)
        if (!fs0.exists(new Path(markerStr)))
          throw new java.io.IOException(
            "avro write: stale task attempt — run already finalized " +
              s"(missing $markerStr); staged files left in progress")
      }
      writers.values.foreach { case (_, tmp, done) =>
        val fs = tmp.getFileSystem(conf)
        if (!fs.rename(tmp, done))
          throw new java.io.IOException(
            s"avro write: task commit rename $tmp -> $done failed")
      }
    }

    // set once the job has succeeded and a commit-phase step failed:
    // from that point the staged files may be the ONLY copy of the
    // data (overwrite deletes the old base first), so cleanup must
    // leave them in place for manual recovery
    var preserveStaging = false
    try {
      stagedDf.foreachPartition(writeTask _)
      // ---- job succeeded; commit ----
      try {
        if (overwrite && driverFs.exists(basePath)) {
          if (parentOpt.isDefined) {
            if (!driverFs.delete(basePath, true))
              throw new java.io.IOException(
                s"avro write: deleting $basePath for overwrite " +
                  s"failed; output left staged under $staging")
          } else
            // basePath is a root: staging lives under it, so delete
            // the old contents child-by-child, sparing EVERY
            // .graft-staging-* dir — not just this run's: a prior
            // failed commit's preserved staging may be the only copy
            // of that run's data, and a concurrent run's staging is
            // live
            driverFs.listStatus(basePath)
              .filterNot(_.getPath.getName.startsWith(".graft-staging-"))
              .foreach { st =>
                if (!driverFs.delete(st.getPath, true))
                  throw new java.io.IOException(
                    s"avro write: deleting ${st.getPath} for " +
                      s"overwrite failed; output left staged under " +
                      s"$staging")
              }
        }
        if (driverFs.exists(staging)) {
          // each committed (task-renamed) attempt holds the complete
          // partition — pick the highest id per (destination,
          // partition) for determinism, drop the rest; `.inprogress`
          // leftovers of killed attempts never match the pattern
          val staged = scala.collection.mutable.ArrayBuffer[
            (String, Int, Long, Path)]()
          val AttemptName = """part-(\d+)-a(\d+)-.*\.avro""".r
          val files = driverFs.listFiles(staging, true)
          val stagingPrefix = staging.toUri.getPath
          while (files.hasNext) {
            val f = files.next()
            if (f.isFile) {
              val rel = f.getPath.toUri.getPath
                .stripPrefix(stagingPrefix).stripPrefix("/")
              val dir = rel.lastIndexOf('/') match {
                case -1 => ""
                case i => rel.substring(0, i)
              }
              f.getPath.getName match {
                case AttemptName(p, a) =>
                  staged += ((dir, p.toInt, a.toLong, f.getPath))
                case _ => // foreign/in-progress file: ignore
              }
            }
          }
          staged.groupBy(e => (e._1, e._2)).foreach {
            case ((dir, pid), attempts) =>
              val winner = attempts.maxBy(_._3)._4
              val targetDir =
                if (dir.isEmpty) basePath else new Path(basePath, dir)
              driverFs.mkdirs(targetDir)
              val target = new Path(targetDir,
                f"part-$pid%05d-$run.avro")
              if (!driverFs.rename(winner, target))
                throw new java.io.IOException(
                  s"avro write: rename $winner -> $target failed; " +
                    s"output left staged under $staging")
          }
        }
        // a zero-row input under overwrite must leave an EMPTY
        // destination, not a missing one (Spark's own overwrite of an
        // empty frame leaves an empty dir; downstream readers expect
        // the path to exist)
        if (!driverFs.exists(basePath)) driverFs.mkdirs(basePath)
      } catch {
        // ANY commit-phase failure (delete, mkdirs, listFiles or
        // rename returning false OR throwing) preserves staging
        case t: Throwable => preserveStaging = true; throw t
      }
    } finally {
      // cleanup must never mask the real error
      if (!preserveStaging)
        try {
          if (driverFs.exists(staging)) driverFs.delete(staging, true)
        } catch { case _: Throwable => }
    }
  }
}
