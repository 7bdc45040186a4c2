package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.{ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** WARC 1.0 source/sink for Common-Crawl-style page tables — the crawl
  * world's native container format (ISO 28500; the reference engine has no
  * crawl ingestion at all, its loader starts from a Neo4j store:
  * core/src/main/java/org/neo4j/gds/core/loading/GraphStoreFactory.java).
  * This is the format a 100 TB crawl actually arrives in, so the engine
  * reads and writes it directly:
  *
  *  - one `.warc` (or `.warc.gz`) file per partition — Common Crawl ships
  *    ~1 GB files, one Spark task per file is the intended parallelism;
  *  - `.warc.gz` follows the CC convention of one gzip MEMBER per record
  *    (members are concatenated; `GZIPInputStream` reads members
  *    back-to-back transparently);
  *  - `response` records carry the html payload, `WARC-Target-URI`,
  *    `WARC-Date` (second-precision ISO-8601, the WARC 1.0 grammar) and
  *    Common Crawl's `WARC-Identified-Content-Language` header. Records
  *    whose Content-Type is `application/http` (real CC captures) have the
  *    HTTP response head stripped so `html` is always the message BODY;
  *  - record ids are deterministic (`urn:graft:<xxhash64 of url>`) so a
  *    re-export of the same table is byte-identical — the same
  *    reproducibility contract as the rest of the io layer.
  *
  * Write uses the Hadoop FileSystem API (local FS, HDFS and object stores
  * alike) with a per-task temp-file + rename commit, so readers never see a
  * half-written file and a `_SUCCESS` marker distinguishes a complete
  * export from a died-midway one; each task streams its partition — nothing
  * is buffered beyond one record. Read uses Spark's `binaryFile` source for
  * file DISCOVERY only (listing, glob filter, and — in the streaming
  * variant — exactly-once processed-file tracking in the checkpoint): only
  * the `path` column is selected, so column pruning keeps file bytes out of
  * the scan entirely (no 2 GiB/file cap, no O(file) row). Each task then
  * opens its file as a Hadoop `FSDataInputStream` and walks `Content-Length`
  * boundaries — no regex over payload bytes, no whole-file buffer,
  * O(largest record) memory regardless of file size. Header field names are
  * matched case-insensitively (WARC/HTTP field names are case-insensitive
  * per spec). Records with a missing/garbled Content-Length or a truncated
  * payload end that file's parse cleanly (crawl readers skip corrupt tails;
  * nothing silently zero-pads).
  */
object Warc {

  private val WarcDate = DateTimeFormatter.ISO_INSTANT

  /** Read-side telemetry (Spark accumulators, one set per session): at
    * 100-TB ingestion a corrupt tail must not end a file's parse SILENTLY —
    * these counters make skipped data observable from the driver after any
    * action over a [[read]]/[[readStream]] result.
    *
    *  - `records`: response rows emitted
    *  - `skippedNonResponse`: warcinfo/request/metadata records walked past
    *    (normal in real crawl files)
    *  - `garbledRecords`: response records dropped for a missing/garbled
    *    URI or date
    *  - `corruptTailFiles`: files whose parse ended BEFORE clean EOF (bad
    *    header block, unparseable Content-Length, truncated payload)
    *  - `corruptTailBytes`: approximate raw (on-disk) bytes left unread in
    *    those files — approximate because decompression/buffering read
    *    ahead of the parse position; never negative. */
  final case class ReadMetrics(
      records: org.apache.spark.util.LongAccumulator,
      skippedNonResponse: org.apache.spark.util.LongAccumulator,
      garbledRecords: org.apache.spark.util.LongAccumulator,
      corruptTailFiles: org.apache.spark.util.LongAccumulator,
      corruptTailBytes: org.apache.spark.util.LongAccumulator) {
    def reset(): Unit = Seq(records, skippedNonResponse, garbledRecords,
      corruptTailFiles, corruptTailBytes).foreach(_.reset())
  }

  private val metricsBySession =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, ReadMetrics]()

  /** The session's WARC read counters (created on first use; named, so they
    * also appear in the Spark UI's accumulator table per stage). */
  def readMetrics(spark: SparkSession): ReadMetrics =
    metricsBySession.computeIfAbsent(spark, s => ReadMetrics(
      s.sparkContext.longAccumulator("graft.warc.records"),
      s.sparkContext.longAccumulator("graft.warc.skippedNonResponse"),
      s.sparkContext.longAccumulator("graft.warc.garbledRecords"),
      s.sparkContext.longAccumulator("graft.warc.corruptTailFiles"),
      s.sparkContext.longAccumulator("graft.warc.corruptTailBytes")))

  private val readSchema = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = false),
    StructField("lang", StringType, nullable = true)))

  /** Header values live on one CRLF-terminated line; a stray CR/LF in a
    * url/lang (malformed crawl input) must not inject header lines or
    * terminate the block early. */
  private def headerSafe(s: String): String = s.replace('\r', ' ').replace('\n', ' ')

  /** Serialize one response record (headers + payload + record separator). */
  private def record(url: String, epochSec: Long, html: Array[Byte],
                     lang: String): Array[Byte] = {
    val id = {
      // deterministic record id from the url (xxhash64 seed 0), not a UUID:
      // re-exports must be byte-identical
      val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(org.apache.spark.unsafe.types.UTF8String.fromString(url), StringType, 0L)
      f"urn:graft:$h%016x"
    }
    val hdr = new StringBuilder()
      .append("WARC/1.0\r\n")
      .append("WARC-Type: response\r\n")
      .append(s"WARC-Record-ID: <$id>\r\n")
      .append(s"WARC-Date: ${WarcDate.format(Instant.ofEpochSecond(epochSec))}\r\n")
      .append(s"WARC-Target-URI: ${headerSafe(url)}\r\n")
      .append(if (lang != null && lang.nonEmpty)
        s"WARC-Identified-Content-Language: ${headerSafe(lang)}\r\n" else "")
      .append("Content-Type: text/html\r\n")
      .append(s"Content-Length: ${html.length}\r\n")
      .append("\r\n")
      .toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(hdr.length + html.length + 4)
    out.write(hdr); out.write(html); out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Write `pages(url, warc_ts, html[, lang])` as WARC files under `dir`,
    * one file per partition. `compress = true` writes the Common-Crawl
    * one-gzip-member-per-record `.warc.gz` form. Tasks write to a hidden
    * temp name and rename into place on success (readers and speculative
    * duplicates never observe partial bytes); the driver drops a `_SUCCESS`
    * marker once every partition committed. */
  def write(pages: DataFrame, dir: String, compress: Boolean = true,
            prefix: String = "part"): Unit = {
    val ext = if (compress) ".warc.gz" else ".warc"
    val hasLang = pages.columns.contains("lang")
    val cols = Seq(col("url"), unix_timestamp(col("warc_ts")).as("epoch"), col("html")) ++
      (if (hasLang) Seq(col("lang")) else Seq(lit(null).cast("string").as("lang")))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      pages.sparkSession.sparkContext.hadoopConfiguration)
    pages.select(cols: _*).foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val tc   = org.apache.spark.TaskContext.get()
        val pid  = tc.partitionId()
        val fin  = new org.apache.hadoop.fs.Path(dir, f"$prefix-$pid%05d$ext")
        // attempt number in the temp name keeps a speculative duplicate on
        // its own file; the rename decides the single winner
        val tmp  = new org.apache.hadoop.fs.Path(dir,
          f".$prefix-$pid%05d.${tc.taskAttemptId()}%d$ext.tmp")
        val fs   = fin.getFileSystem(conf.value)
        val out  = fs.create(tmp, true)
        var ok = false
        try {
          rows.foreach { r =>
            val rec = record(r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2),
              r.getString(3))
            if (compress) {
              // one gzip member per record (CC convention): flushing a fresh
              // GZIPOutputStream per record keeps members independent
              val buf = new ByteArrayOutputStream(rec.length / 2 + 64)
              val gz  = new GZIPOutputStream(buf)
              gz.write(rec); gz.finish(); gz.close()
              buf.writeTo(out)
            } else out.write(rec)
          }
          ok = true
        } finally {
          out.close()
          if (ok) {
            // a false rename (object stores / races) would silently commit a
            // hole under the driver's _SUCCESS — fail the task so it retries
            fs.delete(fin, false)
            if (!fs.rename(tmp, fin))
              throw new java.io.IOException(
                s"WARC commit failed: rename $tmp -> $fin returned false")
          } else fs.delete(tmp, false)
        }
      }
    }
    // all partitions committed: mark the export complete
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(pages.sparkSession.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(dirPath, "_SUCCESS"), true).close()
  }

  /** Read WARC files under `dir` into `(url, warc_ts, html, lang)` — one
    * task per file (Common Crawl's own parallelism unit). Non-`response`
    * records (warcinfo, request, metadata) are skipped, matching how crawl
    * consumers read CC. Only file PATHS flow through the scan (column
    * pruning removes `content` from the binaryFile read schema); bytes are
    * streamed straight from the FileSystem, so a ~1 GB CC file costs
    * O(largest record) task memory, not O(file). */
  def read(spark: SparkSession, dir: String): DataFrame =
    parsePaths(spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*").load(dir)
      .select(col("path"), col("length")), spark)

  /** Streaming variant: watch `dir` for new WARC files and emit their
    * response records as an unbounded `(url, warc_ts, html, lang)` stream —
    * continuous crawl ingestion. Identical parse as [[read]]; the file
    * source tracks processed files in the checkpoint, so each WARC file is
    * ingested exactly once across restarts. As in [[read]], only `path` is
    * selected — the source never materializes file bytes in rows. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    parsePaths(spark.readStream.format("binaryFile")
      .schema(StructType(Seq( // file streams require an explicit schema
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.warc*").load(dir)
      .select(col("path"), col("length")), spark)

  /** (path, length) rows -> parsed response records; works identically on
    * batch and streaming inputs (stateless mapPartitions). Each file is
    * opened as a Hadoop input stream and parsed record-by-record; the stream
    * closes at parse end, with a task-completion listener as the backstop
    * for consumers that stop early (e.g. limit). Read telemetry lands in
    * the session's [[readMetrics]] accumulators.
    *
    * The Hadoop configuration is broadcast rather than captured: this
    * closure stays in the RDD lineage of everything derived from the read,
    * cached frames included, so a captured configuration would be
    * deserialized again by every task of every later stage (hundreds of
    * properties, each a gzip stream ending in a thrown EOFException). */
  private def parsePaths(files: DataFrame, spark: SparkSession): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(readSchema)
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    val m = readMetrics(spark)
    files.mapPartitions { rows =>
      rows.flatMap { r =>
        val p = new org.apache.hadoop.fs.Path(r.getString(0))
        val fileLen = r.getLong(1)
        val raw = p.getFileSystem(conf.value.value).open(p)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
          try raw.close() catch { case _: java.io.IOException => () }
        }
        val in: InputStream =
          if (p.getName.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
          else new java.io.BufferedInputStream(raw, 1 << 16)
        val onCorruptTail = () => {
          m.corruptTailFiles.add(1L)
          // approximate: getPos is the raw position AHEAD of the parse
          // point (readahead/decompression buffering), so this is a floor
          m.corruptTailBytes.add(math.max(0L,
            fileLen - (try raw.getPos catch { case _: java.io.IOException => fileLen })))
        }
        parseStream(in, m, onCorruptTail)
      }
    }(enc)
  }

  /** Fill `buf` completely or throw EOF (partial reads are normal on
    * decompressing streams). */
  private def readFully(in: InputStream, buf: Array[Byte]): Unit = {
    var off = 0
    while (off < buf.length) {
      val n = in.read(buf, off, buf.length - off)
      if (n < 0) throw new EOFException()
      off += n
    }
  }

  /** Walk records by Content-Length over a (possibly decompressing) stream:
    * memory is O(one record), never O(file). Corrupt input — a header block
    * not starting with `WARC/`, a missing/non-numeric Content-Length, or a
    * payload cut short by EOF — ends the parse of this file cleanly after
    * the records already emitted, and fires `onCorruptTail` exactly once so
    * the skip is observable (accumulators), never silent. */
  private def parseStream(in: InputStream, m: ReadMetrics,
                          onCorruptTail: () => Unit): Iterator[Row] = new Iterator[Row] {
    private var closed = false
    private def closeIn(): Unit = if (!closed) {
      closed = true; try in.close() catch { case _: java.io.IOException => () }
    }
    private def advance(): Row = {
      val r = advance0()
      if (r == null) closeIn() // EOF or corrupt tail: the file is done
      else m.records.add(1L)
      r
    }
    private var nextRow: Row = advance()
    override def hasNext: Boolean = nextRow != null
    override def next(): Row = { val r = nextRow; nextRow = advance(); r }

    /** True when the last `readHeader` null was a mid-block EOF or an
      * oversize header — i.e. corruption rather than a clean end-of-file. */
    private var headerCorrupt = false

    /** Bytes of one header block, up to and including CRLFCRLF; null at
      * EOF/corruption (`headerCorrupt` distinguishes). Headers are small —
      * the accumulator is bounded by sanity-capping at 1 MiB (a "header"
      * longer than that is garbage). */
    private def readHeader(): String = {
      val acc = new ByteArrayOutputStream(512)
      var state = 0 // matched prefix length of \r\n\r\n
      while (state < 4) {
        val b = in.read()
        if (b < 0 || acc.size() > (1 << 20)) {
          headerCorrupt = b >= 0 || acc.size() > 0
          return null
        }
        acc.write(b)
        state = (state, b.toChar) match {
          case (0, '\r') => 1
          case (1, '\n') => 2
          case (2, '\r') => 3
          case (3, '\n') => 4
          case (_, '\r') => 1
          case _         => 0
        }
      }
      new String(acc.toByteArray, UTF_8)
    }

    private def corrupt(): Row = { onCorruptTail(); null }

    @annotation.tailrec
    private def advance0(): Row = {
      val header = readHeader()
      if (header == null) { if (headerCorrupt) corrupt() else null } // EOF
      else if (!header.startsWith("WARC/")) corrupt() // garbage block: stop
      else {
        // WARC (and HTTP) field names are case-insensitive per spec —
        // third-party files write e.g. `content-length`; an exact-case miss
        // here would end the whole file's parse at the len<0 branch below
        def h(name: String): String = {
          val key = "\r\n" + name + ":"
          var idx = -1
          var i = 0
          val limit = header.length - key.length
          while (idx < 0 && i <= limit) {
            if (header.regionMatches(true, i, key, 0, key.length)) idx = i
            i += 1
          }
          if (idx < 0) null
          else {
            val s = idx + key.length
            val e = header.indexOf("\r\n", s)
            header.substring(s, if (e < 0) header.length else e).trim
          }
        }
        val lenStr = h("Content-Length")
        // ≤9 digits: a single record beyond ~1 GB can't be held in one
        // byte[] row anyway and signals garbage, not data
        val len = if (lenStr != null && lenStr.nonEmpty && lenStr.length <= 9 &&
          lenStr.forall(_.isDigit)) lenStr.toInt else -1
        if (len < 0) corrupt() // unparseable record boundary: stop cleanly
        else {
          val payload = new Array[Byte](len)
          val sep = new Array[Byte](4)
          try { readFully(in, payload); readFully(in, sep) }
          catch { case _: EOFException => return corrupt() } // truncated tail
          val uri  = h("WARC-Target-URI")
          val date = h("WARC-Date")
          if (!"response".equalsIgnoreCase(h("WARC-Type"))) {
            m.skippedNonResponse.add(1L); advance0() // warcinfo/request/...
          } else if (uri == null || date == null) {
            m.garbledRecords.add(1L); advance0()
          } else {
            // real CC response records hold a full HTTP message
            // (Content-Type: application/http): html is the BODY after the
            // HTTP head's CRLFCRLF. Our own text/html records are the body.
            val ct = h("Content-Type")
            val body =
              if (ct != null && ct.regionMatches(true, 0, "application/http", 0, 16))
                httpBody(payload)
              else payload
            val ts = try java.sql.Timestamp.from(Instant.parse(date))
                     catch { case _: java.time.format.DateTimeParseException => null }
            if (ts == null) { // garbled date: skip record, keep walking
              m.garbledRecords.add(1L); advance0()
            } else Row(uri, ts, body, h("WARC-Identified-Content-Language"))
          }
        }
      }
    }
  }

  /** Strip the HTTP response head (through the first CRLFCRLF) from an
    * `application/http` payload; the whole payload if no head boundary
    * exists (defensive — not produced by conformant writers). */
  private def httpBody(payload: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i + 3 < payload.length &&
      !(payload(i) == '\r' && payload(i + 1) == '\n' &&
        payload(i + 2) == '\r' && payload(i + 3) == '\n')) i += 1
    if (i + 3 < payload.length)
      java.util.Arrays.copyOfRange(payload, i + 4, payload.length)
    else payload
  }
}
