package graft.gates

/** Loopback fixture servers for the gates that read from HTTP or a
  * websocket (q71, q72, q152, q75). They serve the gate catalogue
  * only; the engine never starts one. */
object Fixtures {

  /** Loopback HTTP fixtures for the http gates: one jdk.httpserver
    * per (gate, sf-dir), started lazily, reused across bench reps,
    * stopped by a JVM shutdown hook. 127.0.0.1-only; nothing leaves
    * the process boundary. */
  private val httpFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Closers for every running fixture. Verify/Bench MUST call
    * [[closeFixtures]] before returning: the jdk.httpserver dispatcher
    * thread is non-daemon, so a shutdown hook alone can never fire —
    * the JVM would wait on the dispatcher forever (this hung a full
    * gate battery for an hour). */
  private val fixtureClosers =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Stop every loopback fixture and forget the memoized ports (a
    * later gate run starts fresh servers). */
  def closeFixtures(): Unit = {
    var c = fixtureClosers.poll()
    while (c != null) {
      try c() catch { case _: Throwable => }
      c = fixtureClosers.poll()
    }
    httpFixtures.clear()
    wsFixtures.clear()
  }

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Start (or reuse) a fixture server with the given query-string →
    * JSON-body routes; returns the bound port. */
  private[graft] def fixturePort(key: String)(
      routes: (String, String => String)*): Int =
    httpFixtures.computeIfAbsent(key, _ => {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      routes.foreach { case (path, handler) =>
        srv.createContext(path,
          (ex: com.sun.net.httpserver.HttpExchange) => try {
            val q = Option(ex.getRequestURI.getQuery).getOrElse("")
            val bytes = handler(q).getBytes("UTF-8")
            ex.getResponseHeaders.add("Content-Type", "application/json")
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          } finally ex.close())
      }
      // DAEMON pool: a default executor's non-daemon threads keep the
      // whole Verify/Bench JVM alive after main returns (the shutdown
      // hook can never fire because shutdown never starts) — this hung
      // a full gate battery for an hour before being caught
      srv.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
        8, (r: Runnable) => {
          val t = new Thread(r, "graft-http-fixture")
          t.setDaemon(true)
          t
        }))
      srv.start()
      fixtureClosers.add(() => srv.stop(0))
      Integer.valueOf(srv.getAddress.getPort)
    }).intValue()

  /** Minimal RFC 6455 loopback fixture for the websocket gate: every
    * connection is upgraded, the client's subscription frame is read,
    * then `messages` are sent as text frames and the connection held
    * open (each gate run subscribes fresh and receives the full
    * sequence). 127.0.0.1-only, daemon threads, socket closed by a
    * JVM shutdown hook. */
  private val wsFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private[graft] def wsFixturePort(key: String, messages: Seq[String]): Int =
    wsFixtures.computeIfAbsent(key, _ => {
      val server = new java.net.ServerSocket(
        0, 50, java.net.InetAddress.getLoopbackAddress)
      fixtureClosers.add(() =>
        try server.close() catch { case _: Throwable => })
      val acceptor = new Thread(() => {
        try {
          while (!server.isClosed) {
            val sock = server.accept()
            val conn = new Thread(() => {
              try {
                val in = sock.getInputStream
                val out = sock.getOutputStream
                wsHandshake(in, out)
                wsReadTextFrame(in) // subscription request
                messages.foreach(m => wsWriteTextFrame(out, m))
                while (!server.isClosed) Thread.sleep(50)
              } catch { case _: Throwable => }
              finally { try sock.close() catch { case _: Throwable => } }
            }, s"graft-ws-fixture-conn")
            conn.setDaemon(true)
            conn.start()
          }
        } catch { case _: Throwable => }
      }, "graft-ws-fixture")
      acceptor.setDaemon(true)
      acceptor.start()
      Integer.valueOf(server.getLocalPort)
    }).intValue()

  /** RFC 6455 §4.2.2 upgrade: accept = b64(sha1(key + fixed GUID)). */
  private def wsHandshake(in: java.io.InputStream,
      out: java.io.OutputStream): Unit = {
    val req = new StringBuilder
    while (!req.endsWith("\r\n\r\n")) {
      val c = in.read()
      require(c >= 0, "client closed during handshake")
      req.append(c.toChar)
    }
    val key = req.toString.linesIterator
      .find(_.toLowerCase(java.util.Locale.ROOT)
        .startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
      .getOrElse(throw new IllegalStateException(
        "no Sec-WebSocket-Key header"))
    val accept = java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11")
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: $accept\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.flush()
  }

  /** Server→client text frame, unmasked (§5.1); supports the 126
    * two-byte extended length for payloads up to 64 KiB. */
  private def wsWriteTextFrame(out: java.io.OutputStream,
      text: String): Unit = {
    val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(payload.length < 65536, "fixture frames stay under 64KiB")
    out.write(0x81)
    if (payload.length < 126) out.write(payload.length)
    else {
      out.write(126)
      out.write(payload.length >> 8)
      out.write(payload.length & 0xff)
    }
    out.write(payload)
    out.flush()
  }

  /** Client→server frames are masked; unmask per §5.3, skip control
    * frames. */
  private def wsReadTextFrame(in: java.io.InputStream): String = {
    while (true) {
      val b0 = in.read()
      val b1 = in.read()
      require(b0 >= 0 && b1 >= 0, "client closed")
      val opcode = b0 & 0x0f
      val masked = (b1 & 0x80) != 0
      var len = (b1 & 0x7f).toLong
      if (len == 126) len = (in.read() << 8) | in.read()
      else if (len == 127) {
        len = 0
        for (_ <- 0 until 8) len = (len << 8) | in.read()
      }
      val mask =
        if (masked) Array.fill(4)(in.read().toByte)
        else Array.empty[Byte]
      val payload = new Array[Byte](len.toInt)
      var off = 0
      while (off < len) {
        val n = in.read(payload, off, len.toInt - off)
        require(n > 0, "client closed mid-frame")
        off += n
      }
      if (masked)
        for (i <- payload.indices)
          payload(i) = (payload(i) ^ mask(i % 4)).toByte
      if (opcode == 1)
        return new String(payload,
          java.nio.charset.StandardCharsets.UTF_8)
    }
    throw new IllegalStateException("unreachable")
  }
}
