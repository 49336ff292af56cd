package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Network-egress sink — the OTLP-exporter analog (reference
  * ocb/config.yaml:43-46; exporterhelper retry/queue semantics in
  * factory.go:45-52): forwards processed events over a TCP socket as
  * JSON lines so this engine can feed an existing collector mesh instead
  * of (only) its own table.
  *
  * Delivery contract — AT-LEAST-ONCE, achieved with three nested layers:
  *
  *  1. chunk-level retry with exponential backoff: rows are sent in
  *     bounded chunks; after each chunk the sender writes an in-band
  *     `#ack` marker and BLOCKS for the receiver's 1-byte acknowledgment.
  *     TCP alone cannot prove delivery (a dead receiver's kernel buffers
  *     swallow writes silently), so the ack is what makes "sent" mean
  *     "received". A failed/unacked chunk is resent on a fresh
  *     connection — only the current chunk is buffered (bounded memory
  *     per task, the queue_size analog).
  *  2. Spark task retry: a chunk that exhausts its retries throws, the
  *     task re-runs, the partition is resent.
  *  3. micro-batch replay: `forward` runs under a checkpoint; a crashed
  *     query resends the un-completed batch on restart.
  *
  * Receivers must reply to a `#ack` line with the single byte `'1'`,
  * optionally newline-terminated (`"1"`, `"1\n"`, `"1\r\n"` — the
  * terminator is consumed as part of THIS reply, so a line-oriented
  * receiver keeps working). Any other byte, or bytes beyond that, is a
  * protocol error that tears down the connection (a chatty reply must
  * never pre-ack a chunk the receiver has not processed). Lines starting
  * with `#` never collide with data: every data line is a JSON object
  * (first byte `{`). Duplicates across retries are possible by design —
  * downstream dedupes (the reference exporter is likewise at-least-once).
  *
  * Scale shape: forwarding is per-PARTITION (each executor task opens its
  * own connection), so egress bandwidth scales with the cluster, not the
  * driver; nothing is collected driver-side. */
object Egress {

  /** Send one batch DataFrame as JSON lines. Usable directly in
    * `foreachBatch`, or through [[forward]] for a checkpointed stream. */
  def writeBatch(df: DataFrame, host: String, port: Int,
                 chunkRows: Int = 512, maxRetries: Int = 8,
                 baseBackoffMs: Long = 25L, timeoutMs: Int = 30000): Unit = {
    require(chunkRows > 0 && maxRetries >= 0 && baseBackoffMs >= 0 && timeoutMs > 0)
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      val sender = new ChunkSender(host, port, maxRetries, baseBackoffMs, timeoutMs)
      try it.grouped(chunkRows).foreach(chunk => sender.send(chunk))
      finally sender.close()
    }
  }

  /** One scheme test for the three dispatch/validation sites (Main's arg
    * validation, Main's runtime dispatch, [[writeBatchHttp]]'s require) —
    * schemes are case-insensitive (RFC 3986) and an empty host must fail
    * validation, not burn stream-time retries on an unresolvable name. */
  def isHttpUrl(s: String): Boolean = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    (lower.startsWith("http://") || lower.startsWith("https://")) &&
      (try { val h = java.net.URI.create(s).getHost; h != null && h.nonEmpty }
       catch { case _: IllegalArgumentException => false })
  }

  private def forwardWith(stream: DataFrame, checkpoint: String)
                         (write: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => write(batch) }
      .start()

  /** Checkpointed at-least-once forward of a STREAMING DataFrame (e.g. a
    * graft table's change stream) to host:port. */
  def forward(stream: DataFrame, host: String, port: Int, checkpoint: String,
              chunkRows: Int = 512, maxRetries: Int = 8,
              baseBackoffMs: Long = 25L, timeoutMs: Int = 30000): StreamingQuery =
    forwardWith(stream, checkpoint)(
      writeBatch(_, host, port, chunkRows, maxRetries, baseBackoffMs, timeoutMs))

  /** HTTP variant of [[writeBatch]]: each chunk is one POST whose body is
    * the JSON lines (`application/x-ndjson`); ANY 2xx response is the
    * ack, anything else (or a transport error) retries with the same
    * backoff. HTTP gives the ack for free, so this composes with plain
    * collector endpoints — no custom receiver protocol needed. */
  def writeBatchHttp(df: DataFrame, url: String,
                     chunkRows: Int = 512, maxRetries: Int = 8,
                     baseBackoffMs: Long = 25L, timeoutMs: Int = 30000): Unit = {
    require(chunkRows > 0 && maxRetries >= 0 && baseBackoffMs >= 0 && timeoutMs > 0)
    require(isHttpUrl(url), s"not an http(s) url with a host: $url")
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      val sender = new HttpChunkSender(url, maxRetries, baseBackoffMs, timeoutMs)
      it.grouped(chunkRows).foreach(chunk => sender.send(chunk))
    }
  }

  /** Checkpointed at-least-once HTTP forward (see [[writeBatchHttp]]). */
  def forwardHttp(stream: DataFrame, url: String, checkpoint: String,
                  chunkRows: Int = 512, maxRetries: Int = 8,
                  baseBackoffMs: Long = 25L, timeoutMs: Int = 30000): StreamingQuery =
    forwardWith(stream, checkpoint)(
      writeBatchHttp(_, url, chunkRows, maxRetries, baseBackoffMs, timeoutMs))

  /** Shared chunk-retry loop: run `once` until it stops throwing
    * IOException, with exponential backoff (capped at 64× base) and
    * `onFailure` (connection teardown) between attempts. */
  private[sources] def retrying(maxRetries: Int, baseBackoffMs: Long, what: String,
                                onFailure: () => Unit = () => ())(once: () => Unit): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { once(); done = true }
      catch {
        case e: IOException =>
          onFailure()
          attempt += 1
          if (attempt > maxRetries)
            throw new IOException(s"$what failed after $maxRetries retries", e)
          Thread.sleep(baseBackoffMs << math.min(attempt - 1, 6))
      }
    }
  }
}

/** One task's HTTP chunk sender: POST per chunk, 2xx = delivered.
  * Stateless between chunks (HttpURLConnection pools keep-alive
  * underneath), so there is no connection to reset on failure. */
final class HttpChunkSender(url: String, maxRetries: Int,
                            baseBackoffMs: Long, timeoutMs: Int) {
  private val target = java.net.URI.create(url).toURL

  def send(lines: Seq[String]): Unit =
    Egress.retrying(maxRetries, baseBackoffMs, s"egress POST $url") { () =>
      val conn = target.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-ndjson")
      val os = conn.getOutputStream
      lines.foreach { l => os.write(l.getBytes(StandardCharsets.UTF_8)); os.write('\n') }
      os.close()
      val code = conn.getResponseCode
      if (code / 100 != 2) {
        // drain the error body so the JDK can reuse the socket, then fail
        val es = conn.getErrorStream
        if (es != null) { try { while (es.read() >= 0) () } finally es.close() }
        throw new IOException(s"egress POST $url returned $code")
      }
      // fully consuming + closing the response stream (NOT disconnect(),
      // which tears the socket down) is what lets the JDK keep-alive
      // cache reuse the connection — per-chunk TCP/TLS handshakes would
      // otherwise dominate small-chunk egress on high-latency links
      val is = conn.getInputStream
      try { while (is.read() >= 0) () } finally is.close()
    }
}

/** One task's connection to the egress receiver: sends line chunks, waits
  * for the per-chunk ack, reconnects + resends with exponential backoff on
  * any failure. Not thread-safe (one per partition task). */
final class ChunkSender(host: String, port: Int, maxRetries: Int,
                        baseBackoffMs: Long, timeoutMs: Int = 30000) {
  private var sock: Socket = _
  private var out: BufferedOutputStream = _
  private var in: BufferedInputStream = _
  // how much of the last ack's line terminator may still arrive
  private val Done = 0; private val AfterAck = 1; private val CrPending = 2
  private var eol = Done

  private def connect(): Unit = {
    close()
    // both bounds matter for the retry machinery to EVER engage: an
    // unreachable host must not block on the OS connect default, and a
    // receiver that accepts but never acks (wedged app thread) must
    // surface as a SocketTimeoutException (an IOException → retried on a
    // fresh connection) instead of parking the task forever in read().
    // Writes are bounded too in practice: a chunk is ≤ chunkRows lines,
    // and a stalled receiver zero-windows the flush only once kernel
    // buffers fill — the unacked chunk then times out at the ack read.
    sock = new Socket()
    sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
    sock.setSoTimeout(timeoutMs)
    sock.setTcpNoDelay(true)
    out = new BufferedOutputStream(sock.getOutputStream)
    in = new BufferedInputStream(sock.getInputStream)
  }

  /** Deliver `lines` (each becomes one `\n`-terminated line) and block for
    * the receiver's ack; resends the whole chunk on a fresh connection on
    * failure (shared retry/backoff loop with the HTTP sender). */
  def send(lines: Seq[String]): Unit =
    Egress.retrying(maxRetries, baseBackoffMs, s"egress to $host:$port",
      onFailure = () => close()) { () =>
      if (out == null) connect()
      // bytes already buffered BEFORE this chunk is sent can only be the
      // rest of the previous reply's terminator, which may land in a later
      // TCP segment than its ack byte; anything else is that reply's
      // overflow — tear down now, before it can masquerade as this
      // chunk's ack
      while (in.available() > 0)
        if (!terminator(in.read()))
          throw new IOException("protocol error: unsolicited bytes from receiver before send")
      lines.foreach { l =>
        out.write(l.getBytes(StandardCharsets.UTF_8)); out.write('\n')
      }
      out.write(ChunkSender.AckMarker.getBytes(StandardCharsets.UTF_8))
      out.flush()
      // The ack byte is the delivery proof; EOF (-1) = receiver died. The
      // reply must be EXACTLY the one ack byte: any other value tears the
      // connection down (onFailure close()) so the resend starts from a
      // clean stream. The available() checks around the read catch a
      // chatty receiver's extra bytes whenever they have arrived (same
      // TCP segment — the overwhelmingly common case) but are inherently
      // BEST-EFFORT: a 1-byte ack protocol cannot distinguish a stale
      // extra '1' that arrives later, so the one-byte reply is a
      // normative receiver requirement, not something the sender can
      // fully police. Worst case for a violating receiver is a duplicate
      // resend (at-least-once holds); a receiver replying with extra
      // acks voids its own delivery guarantee.
      // leading terminator bytes are the rest of the previous reply's,
      // arriving later than the pre-send drain saw them; a terminator byte
      // is never the ack byte, so this cannot turn a wrong reply into a
      // false ack
      var r = in.read()
      while (r >= 0 && terminator(r)) r = in.read()
      if (r < 0) throw new IOException("receiver closed before ack")
      if (eol == CrPending)
        throw new IOException("protocol error: a '\\r' from the receiver not followed by '\\n'")
      if (r != ChunkSender.AckByte)
        throw new IOException(
          s"protocol error: expected ack byte '${ChunkSender.AckByte.toChar}', got $r")
      // this reply's own terminator ("\n" / "\r\n", or a "\r" whose '\n'
      // is still in flight) is consumed NOW so it can never masquerade as
      // a later chunk's ack; anything else beyond the ack is still a
      // protocol error — the receiver-compat relief must not reopen the
      // false-ack hole this check exists to close
      eol = AfterAck
      while (in.available() > 0) {
        val b = in.read()
        if (b < 0) throw new IOException("receiver closed after ack")
        if (!terminator(b))
          throw new IOException("protocol error: receiver sent bytes beyond the single ack")
      }
    }

  /** Consumes `b` as the next byte of the last ack's optional line
    * terminator: after the ack a '\n' ends it and a '\r' must be followed
    * by exactly one '\n' — so a stray bare '\r' is a protocol error, not
    * silently absorbed. False when `b` cannot continue the terminator. */
  private def terminator(b: Int): Boolean =
    if (b == '\n' && eol != Done) { eol = Done; true }
    else if (b == '\r' && eol == AfterAck) { eol = CrPending; true }
    else false

  def close(): Unit = {
    if (sock != null) {
      try sock.close() catch { case _: IOException => () }
      sock = null; out = null; in = null; eol = Done
    }
  }
}

object ChunkSender {
  /** In-band chunk delimiter; data lines are JSON objects (`{`-first), so
    * a `#`-first line is unambiguous. Receivers reply with the single
    * byte [[AckByte]], optionally newline-terminated — anything else is a
    * protocol error. */
  val AckMarker: String = "#ack\n"

  /** The one byte a receiver must reply with per acked chunk. */
  val AckByte: Int = '1'.toInt
}
