package graft.sources

import java.net.{ServerSocket, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The driver-buffered line sources: micro-batch slice planning over the
  * chunked UTF-8 buffer, and loud transport failures.
  */
class LineBufferStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A transport the test feeds by hand. */
  private class TestStream extends LineBufferMicroBatchStream {
    @volatile var push: String => Unit = _
    override protected def startIngest(append: String => Unit): Unit = push = append
    override protected def stopIngest(): Unit = ()
    def feed(lines: Seq[String]): Long = {
      latestOffset()
      lines.foreach(push)
      latestOffset().asInstanceOf[LineOffset].index
    }
  }

  /** Plan `[from, until)` and read every slice back: (slice count, lines). */
  private def read(s: LineBufferMicroBatchStream, from: Long, until: Long): (Int, Seq[String]) = {
    spark // the planner sizes slices by the active session's parallelism
    val parts = s.planInputPartitions(LineOffset(from), LineOffset(until))
    val factory = s.createReaderFactory()
    val lines = parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      Iterator.continually(r).takeWhile(_.next()).map(_.get().getUTF8String(0).toString).toList
    }
    (parts.length, lines)
  }

  private val odd = Seq("héllo wörld", "日本語のログ行", "emoji 😀 line", "", "cr\rinside",
    "trailing cr\r", "plain ascii")

  private def lines(n: Int): Seq[String] =
    (0 until n).map(i => f"$i%07d ${odd(i % odd.length)} " + "x" * (i % 200))

  test("a batch under 1 MiB is one slice and reads back in order") {
    val s = new TestStream
    val in = lines(2000)
    val end = s.feed(in)
    val (n, out) = read(s, 0, end)
    assert(n == 1)
    assert(out == in)
  }

  test("a large batch splits into at most defaultParallelism in-order slices") {
    val s = new TestStream
    val in = lines(40000) ++ Seq("y" * (LineChunks.ChunkBytes + 17)) ++ lines(10)
    val end = s.feed(in)
    val (n, out) = read(s, 0, end)
    assert(n > 1 && n <= spark.sparkContext.defaultParallelism)
    assert(out == in) // slices concatenate to the input, in order
    // a sub-range starting and ending mid-chunk
    assert(read(s, 1234, 30001)._2 == in.slice(1234, 30001))
  }

  test("re-planning the same range returns identical lines") {
    val s = new TestStream
    val in = lines(30000)
    val end = s.feed(in)
    val first = read(s, 100, end)
    assert(read(s, 100, end) == first)
    assert(first._2 == in.drop(100))
  }

  test("an empty range gives no rows") {
    val s = new TestStream
    val end = s.feed(lines(10))
    assert(read(s, end, end)._2.isEmpty)
    assert(read(new TestStream, 0, 0)._2.isEmpty)
  }

  test("commit frees the chunks below the committed offset") {
    val s = new TestStream
    val in = lines(30000)
    val end = s.feed(in)
    val held = s.bufferedChunks
    assert(held > 2)
    s.commit(LineOffset(end / 2))
    assert(s.bufferedChunks < held && s.bufferedChunks > 0)
    assert(read(s, end / 2, end)._2 == in.drop((end / 2).toInt))
    s.commit(LineOffset(end))
    assert(s.bufferedChunks == 0)
    assert(read(s, 0, end)._2.isEmpty) // committed lines are gone: at-most-once
    val more = s.feed(Seq("after commit"))
    assert(read(s, end, more)._2 == Seq("after commit"))
  }

  test("syslog-tcp: a peer that resets the connection fails the query") {
    val server = new ServerSocket(0)
    val peer = new Thread(() => {
      val sock = server.accept()
      sock.getOutputStream.write("<34>Oct 11 22:14:15 h nginx: one\n".getBytes(StandardCharsets.UTF_8))
      sock.getOutputStream.flush()
      Thread.sleep(1000)
      sock.setSoLinger(true, 0) // close with RST
      sock.close()
    })
    peer.setDaemon(true)
    peer.start()
    val q = spark.readStream.format("syslog-tcp").option("port", server.getLocalPort).load()
      .writeStream.format("memory").queryName("syslog_tcp_reset").start()
    try {
      val e = intercept[StreamingQueryException](q.awaitTermination(60000))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[java.net.SocketException]), e)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("syslog-tcp: a clean end of stream and stop() stay silent") {
    val server = new ServerSocket(0)
    val s = new SyslogTcpMicroBatchStream("localhost", server.getLocalPort)
    try {
      s.latestOffset()
      val sock = server.accept()
      sock.getOutputStream.write("a\nb\nc\n".getBytes(StandardCharsets.UTF_8))
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (s.latestOffset() != LineOffset(3) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      Thread.sleep(200)
      assert(s.latestOffset() == LineOffset(3))
      assert(read(s, 0, 3)._2 == Seq("a", "b", "c"))
    } finally server.close()

    val server2 = new ServerSocket(0)
    val s2 = new SyslogTcpMicroBatchStream("localhost", server2.getLocalPort)
    try {
      s2.latestOffset()
      val sock = server2.accept()
      s2.stop() // the reader thread's "socket closed" error is expected
      Thread.sleep(200)
      assert(s2.latestOffset() == LineOffset(0))
      sock.close()
    } finally server2.close()
  }

  test("syslog-unix: a 1 MB burst on one connection arrives complete and in order") {
    val path = Files.createTempDirectory("graft_unixburst").toString + "/syslog.sock"
    val s = new SyslogUnixMicroBatchStream(path)
    try {
      s.latestOffset() // binds the listener
      val in = (0 until 24000).map(i => f"<34>Oct 11 22:14:15 h app: burst line $i%06d é")
      val burst = in.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      assert(burst.length >= 1000000)
      val ch = SocketChannel.open(UnixDomainSocketAddress.of(path))
      val buf = ByteBuffer.wrap(burst)
      while (buf.hasRemaining) ch.write(buf)
      ch.close()
      val deadline = System.currentTimeMillis() + 30000
      while (s.latestOffset() != LineOffset(in.size) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(s.latestOffset() == LineOffset(in.size))
      assert(read(s, 0, in.size)._2 == in)
    } finally s.stop()
  }
}
