package graft.sources

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native syslog-over-UDP streaming source (DataSource V2) — the UDP leg
  * of the reference's syslog server (S4,
  * `/root/reference/internal/services/syslog/syslog.go:33-53` binds
  * TCP/UDP/unixgram listeners; one datagram = one RFC3164 message = one
  * record).
  *
  * Usage: `spark.readStream.format("syslog-udp").option("port", p).load()`
  * → one `value: String` column; strip the RFC3164 envelope with
  * [[graft.streaming.StreamingIngest.stripSyslogEnvelope]].
  *
  * Unlike the TCP leg (which dials a remote emitter), UDP BINDS a local
  * listener — datagrams are fire-and-forget, so delivery is not guaranteed
  * even transport-level (the reference documents the same,
  * `/root/reference/README.md:545`). A datagram carrying multiple
  * newline-separated lines yields one record per line.
  */
class SyslogUdpSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "syslog-udp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyslogTcpSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SyslogUdpTable
}

private[sources] class SyslogUdpTable extends Table with SupportsRead {
  override def name(): String = "syslog-udp"
  override def schema(): StructType = SyslogTcpSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      private val bind = Option(options.get("bind")).getOrElse("0.0.0.0")
      private val port = Option(options.get("port"))
        .map(_.toInt).getOrElse(throw new IllegalArgumentException(
          "syslog-udp source requires option 'port'"))
      override def build(): Scan = this
      override def readSchema(): StructType = SyslogTcpSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SyslogUdpMicroBatchStream(bind, port)
    }
}

private[sources] class SyslogUdpMicroBatchStream(bind: String, port: Int)
    extends LineBufferMicroBatchStream {

  @volatile private var socket: DatagramSocket = _

  override protected def startIngest(append: String => Unit): Unit = {
    socket = new DatagramSocket(new InetSocketAddress(bind, port))
    val t = new Thread(() => {
      val buf = new Array[Byte](65507) // max UDP payload
      try {
        while (!socket.isClosed) {
          val packet = new DatagramPacket(buf, buf.length)
          socket.receive(packet)
          val payload = new String(packet.getData, packet.getOffset,
            packet.getLength, StandardCharsets.UTF_8)
          payload.split("\n").foreach { line =>
            val l = line.stripSuffix("\r")
            if (l.nonEmpty) append(l)
          }
        }
      } catch { case t: Throwable => fail(t) } // ignored once stop() closed it
    }, s"syslog-udp-$bind:$port")
    t.setDaemon(true)
    t.start()
  }

  override protected def stopIngest(): Unit =
    if (socket != null) {
      try socket.close() catch { case _: Throwable => () }
    }
}
