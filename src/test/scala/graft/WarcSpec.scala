package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{Pages, Warc}

/** WARC source/sink: roundtrip byte-identity, CC gzip-member convention,
  * non-response record skipping, deterministic re-export. */
class WarcSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-warc").toString

  private def rm(d: String): Unit = graft.io.Fs.deleteRecursively(d)

  private def pages(n: Long) =
    Pages.synth(spark, n, seed = 7L).repartition(3)

  test("warc roundtrip is byte-identical per url (plain and gzip)") {
    for (compress <- Seq(false, true)) {
      val d = tmp()
      try {
        val p = pages(200L).cache()
        Warc.write(p, d, compress = compress)
        val back = Warc.read(spark, d)
        assert(back.count() === 200L)
        // byte-identity per url + second-precision timestamp + lang survive
        val joined = p.select(col("url"), col("warc_ts"), col("html"), col("lang"))
          .join(back.withColumnRenamed("warc_ts", "ts2")
            .withColumnRenamed("html", "html2").withColumnRenamed("lang", "lang2"), "url")
        val bad = joined.filter(
          col("html") =!= col("html2") || col("warc_ts") =!= col("ts2") ||
            col("lang") =!= col("lang2")).count()
        assert(bad === 0L, s"compress=$compress")
        p.unpersist()
      } finally rm(d)
    }
  }

  test("re-export of the same table is byte-identical (deterministic record ids)") {
    val d1 = tmp(); val d2 = tmp()
    try {
      val p = pages(50L).coalesce(1)
      Warc.write(p, d1, compress = false)
      Warc.write(p, d2, compress = false)
      def bytes(d: String) = {
        val f = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try java.nio.file.Files.readAllBytes(
          f.filter(_.toString.endsWith(".warc")).findFirst().get())
        finally f.close()
      }
      assert(java.util.Arrays.equals(bytes(d1), bytes(d2)))
    } finally { rm(d1); rm(d2) }
  }

  test("non-response records are skipped; multi-file parallel read") {
    val d = tmp()
    try {
      val p = pages(100L)
      Warc.write(p, d, compress = true)
      // prepend a warcinfo record in its own file — readers must skip it
      val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Record-ID: <urn:x:1>\r\n" +
        "WARC-Date: 2020-09-13T12:26:40Z\r\nContent-Length: 9\r\n\r\nisPartOf!\r\n\r\n"
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(info.getBytes("UTF-8")); gz.close()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(d, "part-99999.warc.gz"), out.toByteArray)
      assert(Warc.read(spark, d).count() === 100L)
      assert(Warc.read(spark, d).select("url").distinct().count() === 100L)
    } finally rm(d)
  }

  test("payloads containing WARC headers / CRLFCRLF are parsed intact (Content-Length walk)") {
    import spark.implicits._
    val d = tmp()
    try {
      // html bytes that would break any delimiter-scanning parser
      val nasty = Seq(
        (1L, "<html>\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\nfake</html>"),
        (2L, "Content-Length: 9999\r\n\r\n<p>x</p>"),
        (3L, "\r\n\r\n\r\n\r\n"))
      val p = nasty.toDF("id", "body").select(
        concat(lit("https://n.example/"), col("id").cast("string")).as("url"),
        timestamp_seconds(lit(1600000000L) + col("id")).as("warc_ts"),
        col("body").cast("binary").as("html"),
        lit("en").as("lang"))
      for (compress <- Seq(false, true)) {
        val dd = tmp()
        try {
          graft.io.Warc.write(p, dd, compress = compress)
          val back = graft.io.Warc.read(spark, dd)
          assert(back.count() === 3L)
          val bad = p.select(col("url"), col("html").as("h1"))
            .join(back, "url").filter(col("h1") =!= col("html")).count()
          assert(bad === 0L, s"compress=$compress")
        } finally rm(dd)
      }
    } finally rm(d)
  }

  test("application/http records (real CC shape) yield the message BODY as html") {
    val d = tmp()
    try {
      val body = "<html><body>real cc page</body></html>"
      val http = s"HTTP/1.1 200 OK\r\nServer: x\r\nContent-Type: text/html\r\n\r\n$body"
      val rec = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:x:1>\r\n" +
        "WARC-Date: 2020-09-13T12:26:40Z\r\nWARC-Target-URI: https://cc.example/a\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n$http\r\n\r\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "cc.warc"), rec.getBytes("UTF-8"))
      val got = graft.io.Warc.read(spark, d).collect()
      assert(got.length === 1)
      assert(new String(got(0).getAs[Array[Byte]]("html"), "UTF-8") === body)
    } finally rm(d)
  }

  test("truncated file: records before the cut are emitted, nothing is zero-padded") {
    val d = tmp()
    try {
      val p = pages(20L).coalesce(1)
      graft.io.Warc.write(p, d, compress = false)
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      val warc = try f.filter(_.toString.endsWith(".warc")).findFirst().get() finally f.close()
      val bytes = java.nio.file.Files.readAllBytes(warc)
      // cut the file mid-way through the last record's payload; drop the
      // Hadoop LocalFileSystem .crc sidecar (stale after the out-of-band
      // truncation — a real partial download has no sidecar either)
      java.nio.file.Files.write(warc, java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 30))
      java.nio.file.Files.deleteIfExists(
        warc.getParent.resolve("." + warc.getFileName.toString + ".crc"))
      val got = graft.io.Warc.read(spark, d)
      assert(got.count() === 19L) // last record dropped, not padded
      // surviving records byte-identical
      val bad = p.select(org.apache.spark.sql.functions.col("url"),
          org.apache.spark.sql.functions.col("html").as("h1"))
        .join(got, "url").filter(org.apache.spark.sql.functions.col("h1") =!=
          org.apache.spark.sql.functions.col("html")).count()
      assert(bad === 0L)
    } finally rm(d)
  }

  test("write drops a _SUCCESS marker after all partitions commit; no temp files remain") {
    val d = tmp()
    try {
      graft.io.Warc.write(pages(60L), d)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d, "_SUCCESS")))
      val f = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      val leftover = try f.filter(_.getFileName.toString.endsWith(".tmp")).count() finally f.close()
      assert(leftover === 0L)
    } finally rm(d)
  }

  test("read streams from the FileSystem: no `content` column in the scan, " +
    "and files larger than the binaryFile row cap still read") {
    val d = tmp()
    try {
      val p = pages(80L)
      Warc.write(p, d, compress = false)
      val df = Warc.read(spark, d)
      // column pruning must remove `content` from the binaryFile read schema:
      // file bytes never materialize as rows
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("content"), s"scan reads file bytes:\n$plan")
      // binaryFile's maxLength cap only triggers when CONTENT is read; with a
      // cap far below the file size, a successful read proves bytes flow
      // through our Hadoop stream, not through binaryFile rows
      val key = "spark.sql.sources.binaryFile.maxLength"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "64")
      try assert(Warc.read(spark, d).count() === 80L)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } finally rm(d)
  }

  test("readStream also streams from the FileSystem (no binaryFile content rows)") {
    val d = tmp()
    try {
      val p = pages(40L)
      Warc.write(p, d, compress = false)
      // as in the batch test: binaryFile's maxLength cap only fires when the
      // CONTENT column is read — a cap far below the file size proves the
      // STREAMING path also moves bytes through our Hadoop stream, not rows
      val key = "spark.sql.sources.binaryFile.maxLength"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "64")
      try {
        val q = Warc.readStream(spark, d)
          .writeStream.outputMode("append").format("memory")
          .queryName("warcprune").start()
        q.processAllAvailable()
        q.stop()
        assert(spark.sql("SELECT count(*) FROM warcprune").first().getLong(0) === 40L)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } finally rm(d)
  }

  test("header field names are case-insensitive (third-party WARC casing)") {
    val d = tmp()
    try {
      // lowercase/mixed-case field names on the FIRST record — an exact-case
      // parser would miss content-length and drop the whole file's tail
      val body1 = "<p>a1</p>"
      val rec1 = "WARC/1.0\r\nwarc-type: Response\r\nwarc-record-id: <urn:x:1>\r\n" +
        "warc-date: 2020-09-13T12:26:40Z\r\nWarc-Target-Uri: https://cc.example/lc\r\n" +
        s"content-type: text/html\r\ncontent-length: ${body1.length}\r\n\r\n$body1\r\n\r\n"
      val body2 = "<p>b2</p>"
      val rec2 = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:x:2>\r\n" +
        "WARC-Date: 2020-09-13T12:26:41Z\r\nWARC-Target-URI: https://cc.example/uc\r\n" +
        s"Content-Type: text/html\r\nContent-Length: ${body2.length}\r\n\r\n$body2\r\n\r\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "cc.warc"),
        (rec1 + rec2).getBytes("UTF-8"))
      val got = Warc.read(spark, d).orderBy("url").collect()
      assert(got.length === 2) // both records survive, incl. the one AFTER the lc one
      assert(new String(got(0).getAs[Array[Byte]]("html"), "UTF-8") === body1)
      assert(new String(got(1).getAs[Array[Byte]]("html"), "UTF-8") === body2)
    } finally rm(d)
  }

  test("read telemetry: corrupt tails and skipped records are counted, never silent") {
    val d = tmp()
    try {
      val good = "<p>ok</p>"
      def rec(n: Int, typ: String = "response") =
        s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Record-ID: <urn:x:$n>\r\n" +
        s"WARC-Date: 2020-09-13T12:26:4${n}Z\r\nWARC-Target-URI: https://cc.example/$n\r\n" +
        s"Content-Type: text/html\r\nContent-Length: ${good.length}\r\n\r\n$good\r\n\r\n"
      // file A: 2 good records, then a warcinfo, then a garbled-date
      // response, then a record whose Content-Length is garbage followed by
      // trailing junk the parser must NOT emit — a corrupt TAIL
      val garbled = rec(3).replace("2020-09-13T12:26:43Z", "not-a-date")
      val corrupt = "WARC/1.0\r\nWARC-Type: response\r\n" +
        "Content-Length: NOT_A_NUMBER\r\n\r\n" + ("x" * 500)
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "a.warc"),
        (rec(1) + rec(2) + rec(9, "warcinfo") + garbled + corrupt).getBytes("UTF-8"))
      // file B: fully clean — must not count as a corrupt tail
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "b.warc"),
        rec(4).getBytes("UTF-8"))
      val m = Warc.readMetrics(spark)
      m.reset()
      val got = Warc.read(spark, d).collect()
      assert(got.length === 3) // 1,2 from file A + 4 from file B
      assert(m.records.value === 3L)
      assert(m.skippedNonResponse.value === 1L) // the warcinfo
      assert(m.garbledRecords.value === 1L)     // the not-a-date response
      assert(m.corruptTailFiles.value === 1L)   // file A only
      assert(m.corruptTailBytes.value >= 0L)
      // a clean re-read of only the good file counts nothing bad
      m.reset()
      val d2 = tmp()
      try {
        java.nio.file.Files.copy(java.nio.file.Paths.get(d, "b.warc"),
          java.nio.file.Paths.get(d2, "b.warc"))
        assert(Warc.read(spark, d2).count() === 1L)
        assert(m.corruptTailFiles.value === 0L && m.garbledRecords.value === 0L)
      } finally rm(d2)
    } finally rm(d)
  }

  test("extracted text from warc-read html matches the original table (north-rule invariant)") {
    val d = tmp()
    try {
      val p = pages(150L).cache()
      Warc.write(p, d)
      val back = Warc.read(spark, d)
        .select(col("url"), Pages.extractText(col("html").cast("string")).as("text2"))
      val bad = p.select(col("url"), col("text")).join(back, "url")
        .filter(col("text") =!= col("text2")).count()
      assert(bad === 0L)
      p.unpersist()
    } finally rm(d)
  }

  test("one-page crawl without links: every north-star algorithm converges, resume reproduces PageRank") {
    import graft.algo._
    val (d, ck) = (tmp(), tmp())
    try {
      val p = Pages.synth(spark, 1L)
      Warc.write(p, d)
      val back = Warc.read(spark, d)
      assert(back.select("url", "html").collect().toSeq == p.select("url", "html").collect().toSeq)
      val graph = Pages.toGraph(back)
      assert(graph.edges.count() == 0L)
      val cfg = PageRankConfig(maxIterations = 10, checkpointDir = Some(ck))
      val pr = PageRank.run(graph, cfg)
      assert(pr.didConverge)
      val scores = collectMap(pr.scores, "id", "score")
      assert(scores.size == 1)
      assert(collectMap(PageRank.resume(graph, cfg).scores, "id", "score") == scores)
      val wcc = Wcc.run(graph)
      assert(wcc.didConverge && wcc.components.count() == 1L)
      val lp = LabelPropagation.run(graph, LpConfig(maxIterations = 5, schedule = Schedule.Sync))
      assert(lp.didConverge && lp.labels.count() == 1L)
      assert(TriangleCount.run(graph).globalTriangles == 0L)
    } finally { rm(d); rm(ck) }
  }
}
