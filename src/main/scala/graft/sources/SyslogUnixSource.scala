package graft.sources

import java.net.UnixDomainSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.net.StandardProtocolFamily

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native syslog-over-UNIX-socket streaming source (DataSource V2) — the
  * UNIX leg of the reference's syslog server (S4,
  * `/root/reference/internal/services/syslog/syslog.go:33-53` binds
  * TCP/UDP/unixgram listeners). The JDK supports AF_UNIX STREAM channels
  * (Java 16+), not datagram, so this leg is a stream listener: local
  * emitters (`logger -u /path`, rsyslog omuxsock in stream mode, or any
  * app) connect and write newline-delimited messages.
  *
  * Usage: `spark.readStream.format("syslog-unix").option("path", p)
  * .load()` → one `value: String` column. A pre-existing socket file at
  * the path is removed on bind (standard daemon behavior).
  */
class SyslogUnixSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "syslog-unix"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyslogTcpSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SyslogUnixTable
}

private[sources] class SyslogUnixTable extends Table with SupportsRead {
  override def name(): String = "syslog-unix"
  override def schema(): StructType = SyslogTcpSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      private val path = Option(options.get("path"))
        .getOrElse(throw new IllegalArgumentException(
          "syslog-unix source requires option 'path'"))
      override def build(): Scan = this
      override def readSchema(): StructType = SyslogTcpSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SyslogUnixMicroBatchStream(path)
    }
}

private[sources] class SyslogUnixMicroBatchStream(path: String)
    extends LineBufferMicroBatchStream {

  @volatile private var server: ServerSocketChannel = _

  override protected def startIngest(append: String => Unit): Unit = {
    Files.deleteIfExists(Paths.get(path))
    server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(UnixDomainSocketAddress.of(path))
    val acceptor = new Thread(() => {
      try {
        while (server.isOpen) {
          val conn = server.accept()
          val reader = new Thread(() => pump(conn, append), s"syslog-unix-conn")
          reader.setDaemon(true)
          reader.start()
        }
      } catch { case t: Throwable => fail(t) } // ignored once stop() closed it
    }, s"syslog-unix-$path")
    acceptor.setDaemon(true)
    acceptor.start()
  }

  /** Read a connection to EOF, emitting complete newline-delimited lines.
    * A persistent per-connection CharsetDecoder with `endOfInput=false`
    * carries a multi-byte UTF-8 sequence split across a read boundary over
    * to the next chunk (a fresh `UTF_8.decode` per chunk would replace the
    * partial sequence with U+FFFD, corrupting the message).
    */
  private def pump(conn: SocketChannel, append: String => Unit): Unit = {
    val buf = ByteBuffer.allocate(64 * 1024)
    val chars = java.nio.CharBuffer.allocate(64 * 1024)
    val decoder = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val pending = new StringBuilder
    def drain(endOfInput: Boolean): Unit = {
      buf.flip()
      var res = decoder.decode(buf, chars, endOfInput)
      while (res.isOverflow) {
        chars.flip(); pending.append(chars); chars.clear()
        res = decoder.decode(buf, chars, endOfInput)
      }
      if (endOfInput) {
        var fl = decoder.flush(chars)
        while (fl.isOverflow) {
          chars.flip(); pending.append(chars); chars.clear()
          fl = decoder.flush(chars)
        }
      }
      chars.flip(); pending.append(chars); chars.clear()
      buf.compact() // keep any trailing partial byte sequence for next read
    }
    try {
      while (conn.read(buf) >= 0) {
        drain(endOfInput = false)
        // one pass over every complete line, then one delete of the prefix
        var from = 0
        var nl = pending.indexOf("\n", from)
        while (nl >= 0) {
          val line = pending.substring(from, nl).stripSuffix("\r")
          if (line.nonEmpty) append(line)
          from = nl + 1
          nl = pending.indexOf("\n", from)
        }
        pending.delete(0, from)
      }
      drain(endOfInput = true)
      // trailing unterminated line on close counts as a message
      val tail = pending.toString.stripSuffix("\r")
      if (tail.nonEmpty) append(tail)
    } catch { case t: Throwable => fail(t) }
    finally { try conn.close() catch { case _: Throwable => () } }
  }

  override protected def stopIngest(): Unit = {
    if (server != null) {
      try server.close() catch { case _: Throwable => () }
    }
    try Files.deleteIfExists(Paths.get(path)) catch { case _: Throwable => () }
  }
}
