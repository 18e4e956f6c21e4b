package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, IOException}
import java.net.{InetSocketAddress, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.{Channels, SocketChannel}
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal Postgres v3 frontend for exec + COPY FROM STDIN — the
  * pure-JVM twin of the psql-subprocess writer (round-14 verdict 7).
  *
  * PgCopySink's executor fan-out shells out to the `psql` binary per
  * (partition, shard) stream; on container clusters without postgres
  * client tools that binary is a real deployment constraint. This
  * client speaks the published v3 message protocol
  * (postgresql.org/docs/current/protocol-message-formats.html)
  * directly over the server's unix socket (host starting with "/") or
  * TCP, so the sink runs anywhere the socket reaches. Scope is exactly
  * what the COPY writer needs — startup + trust/cleartext/md5/
  * SCRAM-SHA-256 auth, simple query, CopyIn streaming — not a general
  * driver (no extended protocol, no result-row decoding). SCRAM
  * (RFC 5802/7677, round-15 verdict 2) matters because Postgres 14+
  * defaults `password_encryption` to scram-sha-256: without it the
  * pure-JVM sink could not reach a default-configured remote server,
  * which is exactly the container-cluster deployment it exists for.
  * Channel binding is declined (gs2 header "n,,"): this client never
  * speaks TLS, and plain SCRAM-SHA-256 is what servers advertise on
  * non-SSL connections. Passwords are used as-is (no SASLprep
  * normalization) — correct for ASCII passwords; non-ASCII passwords
  * needing RFC 4013 mapping are out of scope and fail auth loudly.
  *
  * Error contract: a server ErrorResponse during exec/copy surfaces as
  * IOException after the protocol resynchronizes on ReadyForQuery, so
  * the connection stays usable for a ROLLBACK; `close()` mid-COPY
  * drops the socket, which aborts the server-side transaction — the
  * wire analogue of killing psql.
  */
private[graft] final class PgWire(host: String, port: Int, db: String,
    user: String = "", password: String = "") {
  private val chan: SocketChannel =
    if (host.startsWith("/")) {
      val c = SocketChannel.open(StandardProtocolFamily.UNIX)
      // two-step open+connect (unlike the TCP convenience overload,
      // which closes itself on failure): close the channel if the
      // socket file is absent/refusing, or it leaks per failed task
      try c.connect(UnixDomainSocketAddress.of(s"$host/.s.PGSQL.$port"))
      catch { case e: Throwable =>
        try c.close() catch { case ce: Throwable => e.addSuppressed(ce) }
        throw e
      }
      c
    } else SocketChannel.open(new InetSocketAddress(host, port))
  private val out = new DataOutputStream(
    new BufferedOutputStream(Channels.newOutputStream(chan), 1 << 16))
  private val in = new DataInputStream(
    new BufferedInputStream(Channels.newInputStream(chan), 1 << 16))
  private val usr = if (user.nonEmpty) user else System.getProperty("user.name")

  // ---- framing ----
  private def send(t: Char, payload: Array[Byte]): Unit = {
    out.writeByte(t)
    out.writeInt(payload.length + 4)
    out.write(payload)
  }
  private def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    java.util.Arrays.copyOf(b, b.length + 1) // NUL-terminated
  }
  private def readMsg(): (Char, Array[Byte]) = {
    val t = in.readByte().toChar
    val len = in.readInt()
    require(len >= 4 && len < (1 << 26), s"implausible message length $len")
    val p = new Array[Byte](len - 4)
    in.readFully(p)
    (t, p)
  }
  private def errText(p: Array[Byte]): String = {
    // ErrorResponse fields: repeated (code byte, cstring); S/M are the
    // severity and human message
    var i = 0
    val fields = scala.collection.mutable.Map[Char, String]()
    while (i < p.length && p(i) != 0) {
      val code = p(i).toChar
      val end = p.indexOf(0.toByte, i + 1)
      fields(code) = new String(p, i + 1, end - i - 1, UTF_8)
      i = end + 1
    }
    s"${fields.getOrElse('S', "ERROR")}: ${fields.getOrElse('M', "unknown")}"
  }

  // ---- startup + auth ----
  locally {
    val params = cstr("user") ++ cstr(usr) ++ cstr("database") ++ cstr(db) ++
      Array(0.toByte)
    out.writeInt(params.length + 8)
    out.writeInt(0x00030000) // protocol 3.0
    out.write(params)
    out.flush()
    var authed = false
    // SCRAM conversation state: set by the AuthenticationSASL message,
    // consumed by SASLContinue/SASLFinal — the server drives the
    // exchange as three separate 'R' messages through this one loop.
    var scramFirstBare: String = null
    var scramAuthMsg: String = null
    var scramSalted: Array[Byte] = null
    while (!authed) {
      val (t, p) = readMsg()
      t match {
        case 'R' =>
          ByteBuffer.wrap(p).getInt match {
            case 0 => authed = true
            case 3 =>
              send('p', cstr(password)); out.flush()
            case 5 =>
              val md = java.security.MessageDigest.getInstance("MD5")
              def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
              val inner = hex(md.digest((password + usr).getBytes(UTF_8)))
              md.reset()
              md.update(inner.getBytes(UTF_8))
              md.update(p, 4, 4) // salt
              send('p', cstr("md5" + hex(md.digest()))); out.flush()
            case 10 => // AuthenticationSASL: NUL-separated mechanism list
              val mechs = new String(p, 4, p.length - 4, UTF_8)
                .split("\u0000").filter(_.nonEmpty).toSeq
              require(mechs.contains("SCRAM-SHA-256"), s"server offers only " +
                s"${mechs.mkString("/")}; this client speaks SCRAM-SHA-256 " +
                "(no channel binding — it never runs over TLS)")
              val nonceRaw = new Array[Byte](18)
              new java.security.SecureRandom().nextBytes(nonceRaw)
              val nonce = java.util.Base64.getEncoder.encodeToString(nonceRaw)
              // n= empty: Postgres takes the username from the startup
              // packet and expects SCRAM's own field blank (its docs say
              // clients SHOULD send n=, it is ignored either way)
              scramFirstBare = s"n=,r=$nonce"
              val initial = ("n,," + scramFirstBare).getBytes(UTF_8)
              val body = ByteBuffer.allocate(
                "SCRAM-SHA-256".length + 1 + 4 + initial.length)
              body.put(cstr("SCRAM-SHA-256")).putInt(initial.length).put(initial)
              send('p', body.array()); out.flush()
            case 11 => // AuthenticationSASLContinue: server-first-message
              val serverFirst = new String(p, 4, p.length - 4, UTF_8)
              val attrs = serverFirst.split(",").map { kv =>
                kv.charAt(0) -> kv.substring(2)
              }.toMap
              val serverNonce = attrs('r')
              val clientNonce = scramFirstBare.substring(scramFirstBare.indexOf("r=") + 2)
              require(serverNonce.startsWith(clientNonce),
                "SCRAM server nonce does not extend the client nonce")
              val salt = java.util.Base64.getDecoder.decode(attrs('s'))
              val iters = attrs('i').toInt
              val skf = javax.crypto.SecretKeyFactory
                .getInstance("PBKDF2WithHmacSHA256")
              scramSalted = skf.generateSecret(new javax.crypto.spec.PBEKeySpec(
                password.toCharArray, salt, iters, 256)).getEncoded
              def hmac(key: Array[Byte], msg: String): Array[Byte] = {
                val m = javax.crypto.Mac.getInstance("HmacSHA256")
                m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
                m.doFinal(msg.getBytes(UTF_8))
              }
              val clientKey = hmac(scramSalted, "Client Key")
              val storedKey = java.security.MessageDigest
                .getInstance("SHA-256").digest(clientKey)
              // c=biws is base64("n,,"): the gs2 header echoed per RFC 5802
              val finalNoProof = s"c=biws,r=$serverNonce"
              scramAuthMsg = s"$scramFirstBare,$serverFirst,$finalNoProof"
              val sig = hmac(storedKey, scramAuthMsg)
              val proof = clientKey.zip(sig).map { case (a, b) => (a ^ b).toByte }
              send('p', (finalNoProof + ",p=" +
                java.util.Base64.getEncoder.encodeToString(proof))
                .getBytes(UTF_8))
              out.flush()
            case 12 => // AuthenticationSASLFinal: verify the SERVER too —
              // a MITM without the password verifier cannot forge v=
              val fin = new String(p, 4, p.length - 4, UTF_8)
              require(fin.startsWith("v="), s"malformed SASLFinal: $fin")
              val m = javax.crypto.Mac.getInstance("HmacSHA256")
              m.init(new javax.crypto.spec.SecretKeySpec(
                scramSalted, "HmacSHA256"))
              m.update("Server Key".getBytes(UTF_8))
              val serverKey = m.doFinal()
              m.init(new javax.crypto.spec.SecretKeySpec(serverKey, "HmacSHA256"))
              val expect = java.util.Base64.getEncoder
                .encodeToString(m.doFinal(scramAuthMsg.getBytes(UTF_8)))
              require(fin.substring(2) == expect,
                "SCRAM server signature mismatch — server lacks the verifier")
            case other => throw new IOException(
              s"unsupported auth method $other (trust/cleartext/md5/scram only)")
          }
        case 'E' => throw new IOException(s"pg startup failed: ${errText(p)}")
        case _ => () // ParameterStatus etc. before auth completes
      }
    }
    waitReady()
  }

  /** Consume messages until ReadyForQuery; throw the first
    * ErrorResponse AFTER resync (so the connection survives). */
  private def waitReady(): Unit = {
    var err: String = null
    var ready = false
    while (!ready) {
      val (t, p) = readMsg()
      t match {
        case 'Z' => ready = true
        case 'E' => if (err == null) err = errText(p)
        case _ => () // CommandComplete, RowDescription/DataRow (results
                     // are discarded — this client runs DDL/DML only),
                     // ParameterStatus, Notice, BackendKeyData
      }
    }
    if (err != null) throw new IOException(s"pg: $err")
  }

  /** Run SQL (possibly multi-statement) to completion; no result rows
    * are surfaced. */
  def exec(sql: String): Unit = {
    send('Q', cstr(sql))
    out.flush()
    waitReady()
  }

  /** Send a COPY ... FROM STDIN statement and wait for CopyInResponse;
    * the connection is then in copy-in mode. */
  def copyInBegin(sql: String): Unit = {
    send('Q', cstr(sql))
    out.flush()
    var inCopy = false
    var err: String = null
    while (!inCopy) {
      val (t, p) = readMsg()
      t match {
        case 'G' => inCopy = true
        case 'E' => err = errText(p)
        case 'Z' =>
          // statement failed before copy mode — already resynced
          throw new IOException(s"pg COPY rejected: ${String.valueOf(err)}")
        case _ => ()
      }
    }
  }

  /** Stream a chunk of COPY payload (CSV bytes, need not align to row
    * boundaries). */
  def copyData(bytes: Array[Byte], off: Int, len: Int): Unit = {
    out.writeByte('d')
    out.writeInt(len + 4)
    out.write(bytes, off, len)
  }

  /** End the COPY stream and wait for the command to complete. */
  def copyEnd(): Unit = {
    send('c', Array.emptyByteArray)
    out.flush()
    waitReady()
  }

  /** The server socket, as the cleanup warnings name it. */
  private def where: String =
    if (host.startsWith("/")) s"$host/.s.PGSQL.$port" else s"$host:$port"

  /** Say Terminate, then drop the socket. Neither step throws: the
    * session's work is done, so a failure only leaves a WARN. */
  def close(): Unit = {
    try { send('X', Array.emptyByteArray); out.flush() }
    catch { case e: Throwable =>
      PgWire.log.warn(s"PgWire: Terminate to $where failed", e) }
    closeAbort()
  }

  /** Failure-path close: just drop the socket — the server aborts any
    * open transaction/copy, nothing commits. Never throws (it runs
    * while the caller's own exception is in flight); a failed close
    * leaves a WARN. */
  def closeAbort(): Unit =
    try chan.close()
    catch { case e: Throwable =>
      PgWire.log.warn(s"PgWire: closing the socket to $where failed", e) }
}

private[graft] object PgWire {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[PgWire])
}
