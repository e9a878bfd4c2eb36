package graft.source

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The wire side of the reference's ingest: a ZMQ-shaped multipart frame
  * codec plus the adapter that pumps a socket into the [[EnvelopeSourceProvider]]
  * spool. Together they demonstrate the DSv2 source's production form
  * offline — socket → frames → spool files → micro-batch stream — with
  * the spool as the durability boundary that upgrades the reference's
  * at-most-once SUB socket to replayable exactly-once
  * (/root/reference/src/main.rs:186-230: connect, subscribe by prefix,
  * serialized recv loop, no persistence).
  *
  * Framing (ZMTP-inspired, self-contained): each frame is
  * `[flags: 1 byte][length: 4-byte big-endian][body]`, where flags bit 0
  * is MORE (another frame follows in the same message). A message is the
  * frame run up to MORE=0; the reference's envelope is exactly 3 frames —
  * topic, frameType, payload (main.rs:220-222). No zmq jar exists in this
  * sandbox, so the codec is written here rather than linked; the adapter
  * is the single swap point for a real `org.zeromq` SUB socket.
  */
object MultipartFrames {
  private val MORE: Int = 0x1

  /** Largest frame body accepted off the wire (16 MiB). A real TICK is a
    * ~100-byte JSON object and a BOOK a ladder of such levels — a few KB.
    * The length is read from the socket before the body is allocated, so
    * without a cap one corrupt header asks for up to 2 GiB: an
    * OutOfMemoryError, or a `readFully` that blocks on bytes that never
    * come.
    */
  val MaxFrameBytes: Int = 16 << 20

  /** Read one whole multipart message; None at clean EOF. A truncated
    * message (EOF mid-frame) also yields None — transport tear-down, not
    * data, so there is nothing to dead-letter.
    */
  def readMessage(in: DataInputStream): Option[Seq[Array[Byte]]] = {
    val frames = Seq.newBuilder[Array[Byte]]
    var more = true
    try {
      while (more) {
        val flags = in.read()
        if (flags < 0) return None // clean EOF only before frame 0
        val len = in.readInt()
        // corrupt length: stop the pump
        if (len < 0 || len > MaxFrameBytes) return None
        val body = new Array[Byte](len)
        in.readFully(body)
        frames += body
        more = (flags & MORE) != 0
      }
      Some(frames.result())
    } catch { case _: EOFException => None }
  }

  def writeMessage(out: DataOutputStream, frames: Seq[Array[Byte]]): Unit = {
    frames.zipWithIndex.foreach { case (body, i) =>
      out.writeByte(if (i < frames.size - 1) MORE else 0)
      out.writeInt(body.length)
      out.write(body)
    }
    out.flush()
  }
}

/** Pumps multipart messages from an InputStream into monotone-named,
  * immutable spool files (the [[EnvelopeSpool]] writer contract):
  * each message becomes one `{"topic","frameType","payload"}` JSON line;
  * every `messagesPerFile` lines the current file is sealed by atomic
  * rename from a `.tmp` name the source never lists — a file is either
  * absent or complete, never half-visible.
  *
  * Subscription semantics mirror ZMQ SUB (main.rs:204-206): the prefix
  * filter applies to the TOPIC frame, before anything is persisted.
  * Non-3-frame messages are dropped and counted (the reference
  * log-and-drops malformed input at main.rs:224-229; here the count is
  * at least observable). Payload bytes are written verbatim when they
  * are a JSON value (object/array/number/quoted string) and re-escaped
  * as a JSON string otherwise, so downstream `from_json` sees exactly
  * what the wire carried.
  */
class SpoolTransportAdapter(
    in: InputStream,
    spoolDir: String,
    topicPrefix: String = "",
    messagesPerFile: Int = 1000) {

  @volatile var dropped: Long = 0L

  private val dir = Paths.get(spoolDir)
  Files.createDirectories(dir)

  /** Pump until EOF; returns messages spooled. Single-threaded like the
    * reference's recv loop — parallelism lives downstream in the source's
    * per-file partitions, not in the tail-end of the wire.
    */
  def run(): Long = {
    val data = new DataInputStream(in)
    var written = 0L
    // Resume AFTER any already-sealed file: a restart that reset the
    // sequence to 0 would ATOMIC_MOVE over sealed files — destroying
    // their rows — and the replacement would sort at/below the
    // consumed watermark and never be read. Monotone continuation is
    // the writer half of the source's offset contract.
    var fileSeq: Long = {
      val existing = graft.util.Fs.list(dir)
        .map(_.getFileName.toString)
        .filter(_.endsWith(".jsonl"))
        .flatMap(n => n.stripSuffix(".jsonl").toLongOption)
      if (existing.isEmpty) 0L else existing.max + 1L
    }
    var lines = Vector.empty[String]
    def seal(): Unit = if (lines.nonEmpty) {
      val tmp = dir.resolve(f".$fileSeq%010d.tmp")
      Files.write(tmp, lines.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(f"$fileSeq%010d.jsonl"),
        StandardCopyOption.ATOMIC_MOVE)
      fileSeq += 1
      lines = Vector.empty
    }
    var msg = MultipartFrames.readMessage(data)
    while (msg.isDefined) {
      msg.get match {
        case Seq(topicB, frameTypeB, payloadB) =>
          val topic = new String(topicB, StandardCharsets.UTF_8)
          if (topic.startsWith(topicPrefix)) {
            val frameType = new String(frameTypeB, StandardCharsets.UTF_8)
            val payload = new String(payloadB, StandardCharsets.UTF_8)
            lines :+= s"""{"topic": ${jsonString(topic)}, "frameType": ${jsonString(frameType)}, "payload": ${payloadJson(payload)}}"""
            written += 1
            if (lines.size >= messagesPerFile) seal()
          }
        case _ => dropped += 1
      }
      msg = MultipartFrames.readMessage(data)
    }
    seal()
    written
  }

  /** A payload that is already a COMPLETE self-delimiting JSON value
    * passes through verbatim (the envelope line stays valid JSON and the
    * reader's balanced-value capture returns the identical bytes);
    * anything else — including a truncated wire payload like
    * `{"symbol": "EUR` — is carried as an escaped JSON string. Verbatim
    * pass-through of an unterminated value would corrupt the whole
    * envelope line: the source's parser nulls it and the message
    * (topic included) vanishes without reaching the dead-letter path.
    * As a string it survives to from_json, fails typed parse there, and
    * quarantines with its raw bytes.
    */
  private def payloadJson(p: String): String = {
    val t = p.trim
    // '"' is deliberately NOT self-delimiting: a complete quoted-string
    // wire payload passed through verbatim would be DECODED by the
    // reader's string branch (quotes stripped, escapes resolved) — the
    // payload column would differ from the wire bytes and a string-typed
    // frame would be indistinguishable from the object it quotes. The
    // escaped path round-trips the raw bytes exactly.
    val selfDelimiting = t.nonEmpty && (t.head == '{' || t.head == '[')
    // raw CR/LF anywhere in a verbatim payload would split the envelope
    // across physical jsonl lines (one-message-per-line is the spool
    // contract) — pretty-printed wire JSON must take the escaped path
    if (selfDelimiting && !t.exists(c => c == '\n' || c == '\r') &&
        isCompleteJsonValue(t)) t
    else if (t.nonEmpty && t.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")) t
    else jsonString(p)
  }

  /** One balanced, properly-nested, terminated JSON value spanning the
    * whole (trimmed) input: strings close, brackets match by KIND, and
    * the value's closing char is the last char (trailing garbage would
    * be silently truncated by the reader's balanced capture).
    */
  private[source] def isCompleteJsonValue(t: String): Boolean = {
    var i = 0
    var inStr = false
    var esc = false
    var stack = List.empty[Char] // expected closers
    var endedAt = -1 // index where the top-level value closed
    val stringValue = t.head == '"'
    while (i < t.length && endedAt < 0) {
      val c = t.charAt(i)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') {
          inStr = false
          if (stringValue && stack.isEmpty) endedAt = i
        }
      } else c match {
        case '"' => inStr = true
        case '{' => stack = '}' :: stack
        case '[' => stack = ']' :: stack
        case '}' | ']' =>
          if (stack.isEmpty || stack.head != c) return false
          stack = stack.tail
          if (stack.isEmpty) endedAt = i
        case _ => ()
      }
      i += 1
    }
    endedAt == t.length - 1
  }

  private def jsonString(s: String): String = graft.util.JsonStrings.quote(s)
}

object SpoolTransportAdapter {
  /** Production entrypoint shape: connect-and-pump (blocking), the
    * moral equivalent of the reference's `sub.connect(...)` + recv loop
    * (main.rs:186-230) with the spool as its output instead of an
    * in-process channel.
    */
  def pump(host: String, port: Int, spoolDir: String,
      topicPrefix: String = "", messagesPerFile: Int = 1000): Long = {
    val socket = new Socket(host, port)
    try new SpoolTransportAdapter(
      socket.getInputStream, spoolDir, topicPrefix, messagesPerFile).run()
    finally socket.close()
  }
}
