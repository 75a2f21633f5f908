package graft.cli

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IngestAppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark // shared session; IngestApp getOrCreate reuses it

  private def writeConfig(tmp: String): Unit =
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)

  /** A config plus a three-line input (one malformed) under a fresh dir. */
  private def batchFixture(prefix: String): String = {
    val tmp = Files.createTempDirectory(prefix).toString
    writeConfig(tmp)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    Files.writeString(Paths.get(s"$tmp/in/access.log"),
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512\n" +
        "garbage line\n" +
        "10.0.0.2 - - [21/Jul/2022:01:00:00 +0000] \"GET /y HTTP/1.1\" 404 99\n")
    tmp
  }

  private def runBatch(tmp: String): Unit = IngestApp.main(Array(
    "--config", s"$tmp/cfg.yaml", "--mode", "batch",
    "--input", s"$tmp/in", "--sink", "parquet",
    "--output", s"$tmp/out", "--dead-letter", s"$tmp/dead",
    "--master", "local[2]"))

  test("batch mode: yaml config → parse → parquet + dead letter") {
    val tmp = batchFixture("graft_cli")
    runBatch(tmp)

    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
    assert(out.columns.contains("insert_date"))
    assert(out.where(out("status") === 404).count() == 1)
    val dead = spark.read.text(s"$tmp/dead").collect().map(_.getString(0))
    assert(dead.toSeq == Seq("garbage line"))
  }

  test("stream mode: kafka-lite source → parquet, end-to-end through the CLI") {
    val tmp = Files.createTempDirectory("graft_cli_kl").toString
    writeConfig(tmp)
    val broker = new graft.sources.KafkaStubBroker(numPartitions = 1)
    val port = broker.start()
    broker.append("clilogs", 0, Seq(
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512",
      "not a log line",
      "10.0.0.2 - - [21/Jul/2022:01:00:00 +0000] \"GET /y HTTP/1.1\" 404 99"))
    val livePort = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    // IngestApp blocks on awaitTermination — drive it on a thread against
    // the shared session, then stop the query once rows land
    val t = new Thread(() => IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "stream",
      "--source", "kafka-lite", "--brokers", s"127.0.0.1:$port",
      "--topic", "clilogs", "--sink", "parquet",
      "--output", s"$tmp/out", "--checkpoint", s"$tmp/cp",
      "--live-port", livePort.toString,
      "--trigger-ms", "200")), "cli-kafka-lite")
    t.setDaemon(true)
    t.start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def landed(): Long =
        try spark.read.parquet(s"$tmp/out").count() catch { case _: Throwable => 0L }
      while (landed() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() == 2) // garbage dropped by the parse stage
      assert(out.columns.contains("insert_date"))
      assert(out.where(out("status") === 404).count() == 1)
      // --live-port serves the reference's /live contract while running
      val conn = new java.net.URL(s"http://127.0.0.1:$livePort/live")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      t.join(10000)
      broker.stop()
    }
  }

  test("batch mode inside an embedding session leaves its runtime confs alone") {
    // getOrCreate applies a builder's runtime SQL confs to an existing
    // session: an embedding application's partitioning and plan-string
    // settings must survive IngestApp.main
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.maxMetadataStringLength")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.maxMetadataStringLength", "1234")
    try {
      val before = keys.map(spark.conf.get)
      assert(before == Seq("4", "1234")) // neither is Spark's default
      val tmp = batchFixture("graft_cli_embed")
      runBatch(tmp)
      assert(spark.read.parquet(s"$tmp/out").count() == 2)
      assert(keys.map(spark.conf.get) == before)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
