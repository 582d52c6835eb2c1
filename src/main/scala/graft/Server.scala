package graft

import org.apache.spark.sql.SparkSession

/** HTTP server mode — the counterpart of the reference's
  * `MPipelineServer` (`MPipelineServer.java:16-40`,
  * `api/PipelineService.java`, `api/SchemaService.java`): a thin
  * servlet layer over the same config lifecycle as [[Run]], sharing
  * one SparkContext across requests.
  *
  * Endpoints:
  *  - `GET  /probe` — liveness, returns `ok` (the reference's probe).
  *  - `POST /schema` — body = YAML/JSON config; builds the DAG
  *    WITHOUT executing sinks and returns every collection's schema
  *    as JSON (the reference's SchemaService).
  *  - `POST /run[?drain=true][&counts=true][&context=c]` — body =
  *    config; executes it (sinks run; `drain` processes all
  *    available data of the streaming queries THIS request started,
  *    like Run's --drain).
  *    Returns the built collection names, plus row counts when
  *    `counts=true` (counting forces full computation — opt-in).
  *    Errors return 400 with the exception message.
  *
  * Each `/run` and `/schema` request runs on its own clone of the
  * server's session (`cloneSession`), so its temp views (`sql`
  * modules), scoped confs and listener registrations stay with the
  * request and never reach the server's session; the SparkContext
  * and cache manager are shared. Requests run CONCURRENTLY on one
  * handler thread per core — most of a request is single-threaded
  * planning work (config resolution, graph construction, Catalyst)
  * that one thread would serialize; the server holds no lock.
  * Streaming queries a request starts live in its clone; a
  * `StreamingQueryListener` on the server's session does not see
  * them.
  *
  *   spark-submit --class graft.Server pipelinespark.jar [port]
  */
object Server {

  def main(argv: Array[String]): Unit = {
    val port = argv.headOption.map(_.toInt).getOrElse(8080)
    val spark = SparkSession.builder()
      .appName("graft:server")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = start(spark, port)
    System.err.println(
      s"[graft] server listening on port ${srv.getAddress.getPort}")
    // block the main thread; the jdk server's dispatcher is non-daemon
    Thread.currentThread().join()
  }

  /** Start the server (port 0 picks a free port — test surface). */
  def start(spark: SparkSession, port: Int)
      : com.sun.net.httpserver.HttpServer = {
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(port), 0)
    // one handler thread per core; idle ones exit, so a stopped
    // server leaves no threads behind
    val threads = spark.sparkContext.defaultParallelism
    val pool = new java.util.concurrent.ThreadPoolExecutor(threads,
      threads, 2L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-server")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    srv.setExecutor(pool)
    // once on the server's session: every clone inherits them, so no
    // request registers them again
    graft.operators.SqlTransform.registerMdtUdfs(spark)

    def respond(ex: com.sun.net.httpserver.HttpExchange, code: Int,
        body: String, ctype: String = "application/json"): Unit = {
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", ctype)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    def queryParams(ex: com.sun.net.httpserver.HttpExchange)
        : Map[String, String] =
      Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2)
          java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8")
        }.toMap

    /** Run `f` on a fresh clone of the server's session. */
    def handle(ex: com.sun.net.httpserver.HttpExchange)(
        f: SparkSession => (Int, String)): Unit =
      try {
        val (code, body) =
          f(org.apache.spark.sql.graft.SessionBridge.cloneSession(spark))
        respond(ex, code, body)
      } catch {
        case e: Throwable =>
          respond(ex, 400, graft.config.Json.obj()
            .put("error", s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse(""))
            .toString)
      }

    srv.createContext("/probe",
      (ex: com.sun.net.httpserver.HttpExchange) =>
        respond(ex, 200, "ok", "text/plain"))

    srv.createContext("/schema",
      (ex: com.sun.net.httpserver.HttpExchange) => handle(ex) { sess =>
        val cfg = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val built = Pipeline.build(sess, cfg,
          queryParams(ex).collect {
            case (k, v) if k.startsWith("args.") =>
              k.stripPrefix("args.") -> v
          })
        val o = graft.config.Json.obj()
        built.toSeq.sortBy(_._1).foreach { case (n, df) =>
          o.set[com.fasterxml.jackson.databind.JsonNode](n,
            graft.config.Json.parse(df.schema.json))
        }
        (200, o.toString)
      })

    srv.createContext("/run",
      (ex: com.sun.net.httpserver.HttpExchange) => handle(ex) { sess =>
        val q = queryParams(ex)
        val cfg = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val args = q.collect {
          case (k, v) if k.startsWith("args.") =>
            k.stripPrefix("args.") -> v
        }
        val built = Pipeline.execute(sess, cfg, args, q.get("context"))
        // the clone is this request's own: its queries are exactly
        // the ones it started
        if (q.get("drain").contains("true"))
          graft.streaming.StreamRunner.drainAll(graft.streaming
            .StreamRunner.allQueries.filter(_.sparkSession eq sess))
        val o = graft.config.Json.obj()
        val names = o.putArray("collections")
        built.keys.toSeq.sorted.foreach(names.add)
        if (q.get("counts").contains("true")) {
          val counts = o.putObject("counts")
          built.toSeq.sortBy(_._1).foreach { case (n, df) =>
            if (!df.isStreaming) counts.put(n, df.count())
          }
        }
        (200, o.toString)
      })

    srv.start()
    srv
  }
}
