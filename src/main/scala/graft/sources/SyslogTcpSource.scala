package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Native syslog-over-TCP streaming source (DataSource V2) — transport
  * parity for the reference's syslog server (S4,
  * `/root/reference/internal/services/syslog/syslog.go:33-53` binds
  * TCP/UDP/unixgram listeners; each datagram/line is one log record).
  *
  * Usage: `spark.readStream.format("syslog-tcp").option("host", h)
  * .option("port", p).load()` → one `value: String` column, the same
  * shape as the built-in text/socket/kafka sources, feeding the shared
  * [[graft.pipeline.Ingest]] pipeline (strip the RFC3164 envelope with
  * [[graft.streaming.StreamingIngest.stripSyslogEnvelope]]).
  *
  * Delivery semantics: the driver-side listener buffers lines and serves
  * them to executors by offset range; offsets already read but not yet
  * committed survive query restarts within the process, but a crashed
  * driver loses its buffer — at-most-once, exactly the reference's TCP
  * syslog contract (`README.md:545`; its channel buffer is equally
  * volatile). For at-least-once, front the stream with Kafka (S5).
  *
  * A connection reset or any other read error fails the query with its
  * cause; a clean end of stream (the peer closed) stops ingest quietly.
  *
  * Scale: each micro-batch is split into one partition per started MiB of
  * lines, up to `defaultParallelism` ([[LineBufferMicroBatchStream]]), so
  * a backlog is parsed and written on every core. Receiving stays one
  * thread per TCP stream — the protocol's own bottleneck; the reference's
  * answer is many parallel sources — here, union multiple `syslog-tcp`
  * streams, one per listener endpoint.
  */
class SyslogTcpSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "syslog-tcp"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SyslogTcpSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new SyslogTcpTable
}

object SyslogTcpSource {
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))
}

private[sources] class SyslogTcpTable extends Table with SupportsRead {
  override def name(): String = "syslog-tcp"
  override def schema(): StructType = SyslogTcpSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      private val host = Option(options.get("host")).getOrElse("localhost")
      private val port = Option(options.get("port"))
        .map(_.toInt).getOrElse(throw new IllegalArgumentException(
          "syslog-tcp source requires option 'port'"))
      override def build(): Scan = this
      override def readSchema(): StructType = SyslogTcpSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SyslogTcpMicroBatchStream(host, port)
    }
}

private[sources] class SyslogTcpMicroBatchStream(host: String, port: Int)
    extends LineBufferMicroBatchStream {

  @volatile private var socket: Socket = _

  override protected def startIngest(append: String => Unit): Unit = {
    socket = new Socket(host, port)
    val in = new BufferedReader(new InputStreamReader(
      socket.getInputStream, StandardCharsets.UTF_8))
    val t = new Thread(() => {
      try {
        var line = in.readLine()
        while (line != null) {
          append(line)
          line = in.readLine()
        }
      } catch { case t: Throwable => fail(t) } // a clean EOF ends the loop
    }, s"syslog-tcp-$host:$port")
    t.setDaemon(true)
    t.start()
  }

  override protected def stopIngest(): Unit =
    if (socket != null) {
      try socket.close() catch { case _: Throwable => () }
    }
}
