package graft.sources

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.unsafe.types.UTF8String

/** Shared machinery for driver-buffered line sources (syslog TCP/UDP/UNIX,
  * filebuf): a transport thread appends lines, micro-batches are offset
  * ranges over the absolute line index, committed prefixes are dropped from
  * the buffer. Delivery is at-most-once (driver buffer is volatile) —
  * exactly the reference's syslog contract
  * (`/root/reference/README.md:545`; its channel buffer is equally
  * volatile). For at-least-once, front the stream with Kafka.
  *
  * Lines are encoded to UTF-8 once, on the transport thread, into chunked
  * byte buffers ([[LineChunks]]). A micro-batch is planned as contiguous,
  * in-order slices of those bytes, one input partition per slice, so a
  * backlog drains on every core; each task carries only its own slice.
  *
  * A transport thread that dies of anything but `stop()` or a clean end of
  * stream reports the cause through `fail`; the next `latestOffset()`
  * rethrows it, which fails the query with that cause.
  */
private[sources] case class LineOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

private[sources] abstract class LineBufferMicroBatchStream extends MicroBatchStream {

  private val lock = new Object
  private val buffer = new LineChunks
  private val started = new AtomicBoolean(false)
  private val stopped = new AtomicBoolean(false)
  private val failure = new AtomicReference[Throwable]()

  /** Start the transport; call `append` once per received line. */
  protected def startIngest(append: String => Unit): Unit

  /** Tear the transport down (idempotent). */
  protected def stopIngest(): Unit

  /** Record an unexpected transport error; the first one fails the query
    * at its next `latestOffset()`. Errors raised after `stop()` (closed
    * sockets) are expected and ignored.
    */
  protected final def fail(cause: Throwable): Unit =
    if (!stopped.get) failure.compareAndSet(null, cause)

  private def append(line: String): Unit = {
    val bytes = line.getBytes(StandardCharsets.UTF_8)
    lock.synchronized(buffer.append(bytes))
  }

  private def ensureStarted(): Unit =
    if (started.compareAndSet(false, true)) startIngest(append)

  override def initialOffset(): Offset = LineOffset(0L)

  override def latestOffset(): Offset = {
    ensureStarted()
    val cause = failure.get
    if (cause != null)
      throw new IllegalStateException(
        s"${getClass.getSimpleName} transport failed: $cause", cause)
    lock.synchronized(LineOffset(buffer.end))
  }

  override def deserializeOffset(json: String): Offset =
    LineOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineOffset].index
    val e = end.asInstanceOf[LineOffset].index
    // chunks are append-only below their snapshot line count, so the copy
    // into slices runs outside the lock the transport thread appends through
    val range = lock.synchronized(buffer.view(s, e))
    LineChunks.slices(range,
      SparkSession.active.sparkContext.defaultParallelism).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineSliceReaderFactory

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[LineOffset].index
    lock.synchronized(buffer.dropBefore(e))
  }

  override def stop(): Unit = {
    stopped.set(true)
    stopIngest()
  }

  /** Chunks currently held by the buffer (freed by `commit`). */
  private[sources] def bufferedChunks: Int = lock.synchronized(buffer.chunkCount)
}

/** The driver buffer: UTF-8 lines packed into fixed-size byte chunks, each
  * with an end-offset index. Lines never span chunks (a line longer than a
  * chunk gets a chunk of its own size), and `dropBefore` frees whole
  * chunks, so neither append nor commit moves buffered bytes. Not
  * thread-safe; [[LineBufferMicroBatchStream]] guards it.
  */
private[sources] final class LineChunks {
  import LineChunks._

  private val chunks = new java.util.ArrayDeque[Chunk]()
  private var next = 0L

  /** Absolute index one past the last appended line. */
  def end: Long = next

  def chunkCount: Int = chunks.size

  def append(line: Array[Byte]): Unit = {
    var tail = chunks.peekLast()
    if (tail == null || !tail.fits(line.length)) {
      tail = new Chunk(next, math.max(ChunkBytes, line.length))
      chunks.addLast(tail)
    }
    tail.add(line)
    next += 1
  }

  /** Free every chunk whose lines all lie below `index`. */
  def dropBefore(index: Long): Unit =
    while (!chunks.isEmpty && chunks.peekFirst().until <= index) chunks.removeFirst()

  /** The buffered lines of `[from, until)` as segments of chunks; lines
    * already dropped are skipped (at-most-once).
    */
  def view(from: Long, until: Long): Seq[Segment] = {
    val out = Seq.newBuilder[Segment]
    val it = chunks.iterator()
    while (it.hasNext) {
      val c = it.next()
      val lo = math.max(from, c.first)
      val hi = math.min(until, c.until)
      if (lo < hi) out += Segment(c.bytes, c.ends, (lo - c.first).toInt, (hi - c.first).toInt)
    }
    out.result()
  }
}

private[sources] object LineChunks {

  /** Byte capacity of one buffer chunk. */
  val ChunkBytes: Int = 256 * 1024
  /** Line capacity of one buffer chunk (bounds its index for empty lines). */
  val ChunkLines: Int = 4096
  /** Bytes below which a batch stays one partition. A steady micro-batch of
    * the 10k lines/s syslog regime is about 1 MB and parses in well under
    * a task's fixed cost, so splitting it only adds tasks and part files;
    * a backlog is many times this size and splits up to the core count.
    */
  val SliceFloorBytes: Long = 1L << 20

  final class Chunk(val first: Long, capacity: Int) {
    val bytes = new Array[Byte](capacity)
    val ends = new Array[Int](ChunkLines)
    private var count = 0

    def until: Long = first + count
    private def used: Int = if (count == 0) 0 else ends(count - 1)
    def fits(len: Int): Boolean = count < ChunkLines && used + len <= bytes.length

    def add(line: Array[Byte]): Unit = {
      val at = used
      System.arraycopy(line, 0, bytes, at, line.length)
      ends(count) = at + line.length
      count += 1
    }
  }

  /** Lines `[lo, hi)` of one chunk: line `i` is
    * `bytes(ends(i - 1) until ends(i))` (`ends(-1)` = 0).
    */
  final case class Segment(bytes: Array[Byte], ends: Array[Int], lo: Int, hi: Int) {
    def startByte: Int = if (lo == 0) 0 else ends(lo - 1)
    def endByte: Int = ends(hi - 1)
    def byteLength: Int = endByte - startByte
  }

  /** Cut the lines of `range` into `min(parallelism, ceil(bytes / floor))`
    * contiguous, in-order slices of about equal bytes (at least one, so an
    * empty range is one empty slice).
    */
  def slices(range: Seq[Segment], parallelism: Int): Seq[LineSlicePartition] = {
    val lines = range.map(s => s.hi - s.lo).sum
    val total = range.map(_.byteLength.toLong).sum
    val n = math.max(1L, math.min(parallelism.toLong,
      (total + SliceFloorBytes - 1) / SliceFloorBytes)).toInt
    // flat index of the range: line j's end byte, relative to the range
    val ends = new Array[Long](lines)
    var j = 0
    var base = 0L
    range.foreach { s =>
      var i = s.lo
      while (i < s.hi) { ends(j) = base + s.ends(i) - s.startByte; i += 1; j += 1 }
      base += s.byteLength
    }
    // slice k ends after the first line reaching k/n of the bytes
    val cuts = Array.tabulate(n + 1) { k =>
      if (k == 0) 0
      else if (k == n) lines
      else {
        val at = java.util.Arrays.binarySearch(ends, total * k / n)
        (if (at >= 0) at else -at - 1) + 1
      }
    }
    (0 until n).map { k =>
      val (a, b) = (cuts(k), cuts(k + 1))
      val from = if (a == 0) 0L else ends(a - 1)
      val until = if (b == 0) 0L else ends(b - 1)
      val bytes = new Array[Byte]((until - from).toInt)
      copyBytes(range, from, bytes)
      LineSlicePartition(bytes, Array.tabulate(b - a)(i => (ends(a + i) - from).toInt))
    }
  }

  /** Fill `dst` with the range's bytes starting at range offset `from`. */
  private def copyBytes(range: Seq[Segment], from: Long, dst: Array[Byte]): Unit = {
    var skip = from
    var at = 0
    val it = range.iterator
    while (at < dst.length) {
      val s = it.next()
      if (skip >= s.byteLength) skip -= s.byteLength
      else {
        val n = math.min(s.byteLength - skip.toInt, dst.length - at)
        System.arraycopy(s.bytes, s.startByte + skip.toInt, dst, at, n)
        at += n
        skip = 0
      }
    }
  }
}

/** One slice of a micro-batch: packed UTF-8 lines, line `i` is
  * `bytes(ends(i - 1) until ends(i))` (`ends(-1)` = 0).
  */
private[sources] case class LineSlicePartition(bytes: Array[Byte], ends: Array[Int])
    extends InputPartition

private[sources] class LineSliceReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val slice = partition.asInstanceOf[LineSlicePartition]
      private var i = -1
      override def next(): Boolean = { i += 1; i < slice.ends.length }
      override def get(): InternalRow = {
        val from = if (i == 0) 0 else slice.ends(i - 1)
        new GenericInternalRow(Array[Any](
          UTF8String.fromBytes(slice.bytes, from, slice.ends(i) - from)))
      }
      override def close(): Unit = ()
    }
}
