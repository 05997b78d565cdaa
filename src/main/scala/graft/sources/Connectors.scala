package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import graft.Fields
import graft.sources.Documents.DocOptions

/** Connectors (reference: src/connector (Rust modules) — local, in_memory, cli, curl,
  * mongodb, psql, bucket, bucket_select), re-expressed Spark-first.
  *
  * - local/bucket are the same code path: a path (file:// or s3a://) read by
  *   Spark's datasource layer — the wildcard paginator is Spark's glob +
  *   file-split parallelism; "S3 Select" pushdown is Catalyst predicate/
  *   column pushdown, which the scan does natively.
  * - psql maps to Spark JDBC with partitioned reads.
  * - curl and mongodb are the paged sources, and both read through
  *   [[Pages]]: a known page count runs the one parallel page plan (a page
  *   per task on executors), an unknown count or a cursor chain runs the one
  *   sequential walk, which spills each page to a file as it is fetched. The
  *   HTTP call is an injectable transport and the mongodb driver an
  *   injectable client surface; the defaults refuse (no egress, no driver
  *   jar), while pagination, parallelism and parsing are real and tested.
  */
sealed trait Connector {
  def load(spark: SparkSession): DataFrame
  def save(df: DataFrame, mode: SaveMode = SaveMode.Overwrite): Unit =
    throw new UnsupportedOperationException(s"$this is read-only")
  /** Eraser-step support: remove the target's contents. */
  def erase(spark: SparkSession): Unit =
    throw new UnsupportedOperationException(s"$this cannot be erased")
  /** Structured-Streaming source (`"stream": true` on a reader step). */
  def loadStream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(s"$this cannot be read as a stream")
  /** Structured-Streaming sink: drains all available input (AvailableNow),
    * so a streaming config behaves like a batch run that happens to go
    * through the streaming engine — rerun it to pick up new files. */
  def saveStream(df: DataFrame): Unit =
    throw new UnsupportedOperationException(s"$this cannot be written as a stream")
}

/** Local filesystem (or any Hadoop-FS URI incl. s3a://) + document format.
  * Glob wildcards in `path` fan out to parallel file partitions. */
final case class LocalConnector(path: String, docType: String = "json",
                                opts: DocOptions = DocOptions(),
                                partitionBy: Seq[String] = Nil) extends Connector {
  override def load(spark: SparkSession): DataFrame =
    Documents.read(spark, docType, path, opts)
  override def save(df: DataFrame, mode: SaveMode): Unit =
    Documents.write(df, docType, path, opts, mode, partitionBy)
  override def erase(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** File stream over the same path: the schema comes from one static pass
    * (a streaming source needs it up front), then readStream watches the
    * directory. New files appearing later are picked up by reruns (or a
    * long-running trigger if the caller starts one). */
  override def loadStream(spark: SparkSession): DataFrame = {
    // Schema comes from a RAW static pass — BEFORE entry_path reshaping —
    // because the stream parses the same raw files; the pointer then
    // applies to the streamed frame itself (plain column ops, stream-safe).
    // The json branch mirrors the batch reader's always-on multiLine: an
    // array-of-objects file must parse to rows here too, not null columns.
    val schema = Documents.read(spark, docType, path, opts.copy(entryPath = "")).schema
    val r = spark.readStream.schema(schema)
    val raw = docType match {
      case "parquet" => r.parquet(path)
      case "json" => r.option("multiLine", value = true).json(path)
      case "jsonl" => r.json(path)
      case "csv" => r.option("header", opts.header).option("sep", opts.delimiter).csv(path)
      case "text" => spark.readStream.text(path)
      case other => throw new UnsupportedOperationException(
        s"streaming reader not supported for document type $other")
    }
    Documents.withEntryPath(raw, opts)
  }

  override def saveStream(df: DataFrame): Unit = {
    val fmt = docType match {
      case "parquet" | "orc" | "csv" | "text" => docType
      case "json" | "jsonl" => "json"
      case other => throw new UnsupportedOperationException(
        s"streaming writer not supported for document type $other")
    }
    df.writeStream
      .format(fmt)
      .option("path", path)
      .option("checkpointLocation", path.stripSuffix("/") + "_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}

/** S3-style bucket — same scan machinery as local through s3a. */
final case class BucketConnector(bucket: String, key: String,
                                 docType: String = "json",
                                 opts: DocOptions = DocOptions()) extends Connector {
  private[graft] def uri = s"s3a://$bucket/$key"
  override def load(spark: SparkSession): DataFrame =
    Documents.read(spark, docType, uri, opts)
  override def save(df: DataFrame, mode: SaveMode): Unit =
    Documents.write(df, docType, uri, opts, mode)
  override def erase(spark: SparkSession): Unit = {
    // the reference eraser works on any connector (src/step/eraser.rs);
    // bucket erase = recursive delete of the key prefix through the same FS
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

/** Literal data carried in the config (reference: in_memory.rs — accepts any
  * document type; also usable as a test sink: save buffers JSON rows). */
final case class InMemoryConnector(data: String, docType: String = "json",
                                   opts: DocOptions = DocOptions()) extends Connector {
  /** Rows written through save(), as JSON lines (driver-side test sink —
    * mirrors the reference's use of in_memory as an assertion buffer). */
  val written: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty
  override def load(spark: SparkSession): DataFrame =
    Documents.readString(spark, docType, data, opts, memo = true)
  override def save(df: DataFrame, mode: SaveMode): Unit = {
    if (mode == SaveMode.Overwrite) written.clear()
    written ++= df.toJSON.collect()
  }
  override def erase(spark: SparkSession): Unit = written.clear()
  /** Streaming sink via foreachBatch: each micro-batch appends to the
    * buffer (drains all available input, then returns). */
  override def saveStream(df: DataFrame): Unit =
    df.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => save(batch, SaveMode.Append))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mem-ckpt").toString)
      .start()
      .awaitTermination()
}

/** stdin/stdout passthrough (reference: cli.rs). Driver-side by nature. */
final case class CliConnector(docType: String = "json") extends Connector {
  override def load(spark: SparkSession): DataFrame = {
    val content = scala.io.Source.stdin.mkString
    InMemoryConnector(content, docType).load(spark)
  }
  override def save(df: DataFrame, mode: SaveMode): Unit =
    // stdout is driver-side by nature, but the frame need not be:
    // toLocalIterator streams one partition at a time, so driver memory is
    // bounded by a partition, not the dataset (collect() pinned it all)
    df.toJSON.toLocalIterator().forEachRemaining(println(_))
}

/** Relational DB via Spark JDBC (reference: psql.rs). `partitionColumn` +
  * bounds split the read across executors. */
final case class JdbcConnector(url: String, table: String,
                               user: String = "", password: String = "",
                               partitionColumn: Option[String] = None,
                               lowerBound: Long = 0, upperBound: Long = 0,
                               numPartitions: Int = 8,
                               driver: String = "") extends Connector {
  private def base(r: org.apache.spark.sql.DataFrameReader) = {
    val w = r.option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    if (driver.nonEmpty) w.option("driver", driver) else w
  }
  override def load(spark: SparkSession): DataFrame = {
    var r = base(spark.read.format("jdbc"))
    partitionColumn.foreach { c =>
      r = r.option("partitionColumn", c)
        .option("lowerBound", lowerBound).option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }
    r.load()
  }
  override def save(df: DataFrame, mode: SaveMode): Unit = {
    var w = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    if (driver.nonEmpty) w = w.option("driver", driver)
    w.save()
  }
}

/** JWT compact-serialization signing (RFC 7515/7519 — public standards;
  * reference: src/connector/authenticator/jwt.rs signs claims with
  * signing types secret/base64secret/rsa_pem/rsa_components, HS256
  * default). HMAC rides javax.crypto.Mac; RSA rides
  * java.security.Signature with a PKCS#8 PEM key or RFC 7517 JWK
  * components. EC signing types are not wired (no reference example
  * exercises them). */
object Jwt {

  def sign(claimsJson: String, key: String, algorithm: String = "HS256",
           signingType: String = "secret"): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
    val header = s"""{"alg":"$algorithm","typ":"JWT"}"""
    val input = enc.encodeToString(header.getBytes("UTF-8")) + "." +
      enc.encodeToString(claimsJson.getBytes("UTF-8"))
    val sig = algorithm match {
      case "HS256" | "HS384" | "HS512" =>
        val macAlg = "HmacSHA" + algorithm.drop(2)
        val keyBytes =
          if (signingType == "base64secret") java.util.Base64.getDecoder.decode(key)
          else key.getBytes("UTF-8")
        val mac = javax.crypto.Mac.getInstance(macAlg)
        mac.init(new javax.crypto.spec.SecretKeySpec(keyBytes, macAlg))
        mac.doFinal(input.getBytes("UTF-8"))
      case "RS256" | "RS384" | "RS512" =>
        val s = java.security.Signature.getInstance("SHA" + algorithm.drop(2) + "withRSA")
        s.initSign(rsaPrivateKey(key, signingType))
        s.update(input.getBytes("UTF-8"))
        s.sign()
      case other => throw new IllegalArgumentException(
        s"unsupported JWT algorithm: $other (supported: HS256/384/512, RS256/384/512)")
    }
    input + "." + enc.encodeToString(sig)
  }

  /** RSA private key from a PKCS#8 PEM (`rsa_pem`/`rsa_der`) or a JWK's
    * n/d components (`rsa_components`, RFC 7517). */
  private def rsaPrivateKey(key: String, signingType: String): java.security.PrivateKey = {
    val kf = java.security.KeyFactory.getInstance("RSA")
    signingType match {
      case "rsa_pem" | "rsa_der" =>
        val der = java.util.Base64.getMimeDecoder.decode(
          key.replaceAll("-----[A-Z ]+-----", ""))
        kf.generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(der))
      case "rsa_components" | "jwk" =>
        val jwk = new com.fasterxml.jackson.databind.ObjectMapper().readTree(key)
        def big(f: String): java.math.BigInteger =
          new java.math.BigInteger(1, java.util.Base64.getUrlDecoder.decode(jwk.get(f).asText()))
        kf.generatePrivate(new java.security.spec.RSAPrivateKeySpec(big("n"), big("d")))
      case other => throw new IllegalArgumentException(
        s"unsupported RSA signing type: $other (rsa_pem/rsa_der/rsa_components)")
    }
  }
}

object Http {
  /** One HTTP exchange: body plus response headers (what header-based
    * counters read — reference: src/connector/counter/curl/header.rs). */
  final case class Response(body: String, headers: Map[String, String] = Map.empty)

  /** Body-only transport: (url, request headers) -> body. Injectable for
    * tests; the default refuses — this environment is zero-egress. */
  type Transport = (String, Map[String, String]) => String

  /** Full transport: (url, request headers) -> Response. Body-only
    * transports lift via [[full]]; only callers that need response
    * headers (header counter) must provide one. */
  type FullTransport = (String, Map[String, String]) => Response
  def full(t: Transport): FullTransport = (u, h) => Response(t(u, h))

  /** Fill a URL template's pagination slots: mustache `{{ paginator.<k> }}`
    * substitution if the template has any, else query parameters. */
  private[sources] def pageUrl(template: String, subst: Map[String, String]): String =
    if (template.contains("{{"))
      subst.foldLeft(template) { case (u, (k, v)) =>
        u.replaceAll("\\{\\{\\s*paginator\\." + k + "\\s*\\}\\}",
          java.util.regex.Matcher.quoteReplacement(v))
      }
    else {
      val params = subst.map { case (k, v) => s"$k=$v" }.mkString("&")
      if (params.isEmpty) template
      else template + (if (template.contains("?")) "&" else "?") + params
    }

  /** Write transport: (url, request headers, request body) -> response
    * body (reference: curl.rs send — POST/PUT/PATCH per method config). */
  type WriteTransport = (String, Map[String, String], String) => String
  val noWriteTransport: WriteTransport = (u, _, _) =>
    throw new UnsupportedOperationException(s"HTTP write transport unavailable (no egress): $u")

  val noTransport: Transport = (u, _) =>
    throw new UnsupportedOperationException(s"HTTP transport unavailable (no egress): $u")
}

/** File-based HTTP response cache (reference: curl.rs:46,145 —
  * `is_cached` flag, OS-temp `cache/http` storage). Keyed by
  * sha256(url + canonical request headers); stores body AND response
  * headers so a cached probe still answers a header counter. The cache is
  * per-node (each executor caches its own fetches), matching the
  * reference's process-local cache — at 100 TB the win is re-runs and
  * retried tasks skipping the network, not cross-node sharing. */
object HttpCache {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def dir: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft", "http-cache")

  private def keyFor(url: String, headers: Map[String, String]): String = {
    val canonical = url + "\n" +
      headers.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Read-through wrapper: hit -> cached Response, zero transport calls;
    * miss -> fetch, then write atomically (temp file + move) so a
    * concurrent task never reads a half-written entry. */
  def cached(t: Http.FullTransport): Http.FullTransport = (url, headers) => {
    val f = dir.resolve(keyFor(url, headers))
    if (java.nio.file.Files.exists(f)) {
      val node = mapper.readTree(java.nio.file.Files.readString(f))
      val hs = Map.newBuilder[String, String]
      node.get("headers").properties().forEach(e => hs += (e.getKey -> e.getValue.asText()))
      Http.Response(node.get("body").asText(), hs.result())
    } else {
      val r = t(url, headers)
      java.nio.file.Files.createDirectories(dir)
      val entry = mapper.createObjectNode()
      val hdrs = entry.putObject("headers")
      r.headers.foreach { case (k, v) => hdrs.put(k, v) }
      entry.put("body", r.body)
      val tmp = java.nio.file.Files.createTempFile(dir, "w", ".tmp")
      java.nio.file.Files.writeString(tmp, entry.toString)
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      r
    }
  }

  /** Drop every cached entry (spec isolation / forced refresh). */
  def clear(): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.list(dir)
      try s.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
}

/** Pagination strategies (reference: src/connector/paginator/curl). */
sealed trait HttpPaginator
/** Parallel page-per-partition when `count` is known; sequential walk until
  * an empty page otherwise (reference: paginator/curl/offset.rs —
  * limit/skip/count). */
final case class OffsetPaginator(limit: Int = 100, skip: Int = 0,
                                 count: Option[Long] = None) extends HttpPaginator
/** Next-token chain; the token is read from each response body at
  * `entryPath` (json pointer) and substituted into the next request
  * (reference: paginator/curl/cursor.rs — limit/entry_path). Inherently
  * sequential → driver walk, distributed parse. */
final case class CursorPaginator(limit: Int = 100,
                                 entryPath: String = "/next") extends HttpPaginator

/** Spill surface for the sequential page walk: pages go to one file each AS
  * FETCHED, so driver memory holds a single page at a time no matter how
  * long the walk is.
  *
  * Cluster contract: the spill path must be readable by EXECUTORS (the
  * json parse is a distributed file read). A driver-local tempdir only
  * qualifies on a local master, so the spill location is chosen per
  * session: `spark.graft.http.spillDir` (any shared Hadoop filesystem —
  * hdfs://, s3a://, a mounted NFS path) when set; a driver-local tempdir
  * when the master is local; otherwise spilling is impossible without a
  * shared location and bodies fall back to an in-driver buffer (correct
  * everywhere, memory bounded by walk size — configure spillDir for long
  * walks on a real cluster).
  *
  * Lifecycle: the json parse MATERIALIZES into Spark's block manager
  * (persist + count) and the spill dir is deleted eagerly right after —
  * no per-file deleteOnExit accumulation in a long-lived JVM, and the
  * returned frame never re-reads the deleted files. */
private[sources] final class PageSpill(spark: SparkSession) {
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val dir: Option[org.apache.hadoop.fs.Path] =
    spark.conf.getOption("spark.graft.http.spillDir")
      .map(base => new org.apache.hadoop.fs.Path(
        base, s"graft-curl-pages-${java.util.UUID.randomUUID()}"))
      .orElse {
        if (spark.sparkContext.isLocal)
          Some(new org.apache.hadoop.fs.Path(
            "file://" + java.nio.file.Files.createTempDirectory("graft-curl-pages")))
        else None
      }
  private val mem = scala.collection.mutable.ArrayBuffer.empty[String]
  private var n = 0

  /** Pages written so far. */
  def pages: Int = n

  /** Append the next page. */
  def write(body: String): Unit = {
    dir match {
      case Some(d) =>
        val fs = d.getFileSystem(hadoopConf)
        val out = fs.create(new org.apache.hadoop.fs.Path(d, f"page-$n%08d.body"), true)
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      case None => mem += body
    }
    n += 1
  }

  def readPage(i: Int): String = dir match {
    case Some(d) =>
      val fs = d.getFileSystem(hadoopConf)
      val in = fs.open(new org.apache.hadoop.fs.Path(d, f"page-$i%08d.body"))
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    case None => mem(i)
  }

  /** Json parse: one wholetext row per spilled page, read distributed,
    * pinned to the block manager so [[delete]] can run eagerly. */
  def parseJson(): DataFrame = {
    import spark.implicits._
    dir match {
      case Some(d) =>
        val parsed = spark.read.json(
            spark.read.option("wholetext", "true").text(d.toString).as[String])
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        parsed.count() // materialize before the spill files disappear
        delete()
        parsed
      case None => spark.read.json(spark.createDataset(mem.toSeq))
    }
  }

  /** Remove the spill dir (recursive). Idempotent. */
  def delete(): Unit =
    dir.foreach(d => d.getFileSystem(hadoopConf).delete(d, true))
}

/** The two ways a paged source (curl, mongodb) reads a remote collection
  * (reference: paginator/curl and paginator/mongodb, offset and cursor):
  * a known page count fetches pages in parallel ([[parallel]]); a cursor
  * chain, or an offset walk with an unknown count, fetches them one after
  * another ([[walk]]). A page body is a JSON array or object (a mongodb
  * page is its documents as one JSON array), or a body in the configured
  * document type. */
private[sources] object Pages {
  /** A page that carries no rows; it ends a walk and is dropped from a plan. */
  def blank(body: String): Boolean = {
    val t = body.trim
    t.isEmpty || t == "[]" || t == "{}" || t == "null"
  }

  /** The parallel page plan: page `i`'s body is `fetch(i)`, one page per
    * task on executors (at most 64 partitions). The non-blank bodies STAY
    * distributed (a collect() would bottleneck the driver at 100k-page
    * collections) and persist, so json inference and downstream actions
    * re-read the cache instead of re-fetching every page; the blocks are
    * LRU-evictable and die with the session. None when every page is
    * blank. `fetch` runs on executors. */
  def parallel(spark: SparkSession, nPages: Int)
              (fetch: Int => String): Option[Dataset[String]] =
    if (nPages <= 0) None
    else {
      import spark.implicits._
      val bodies = spark.range(nPages).repartition(math.min(nPages, 64))
        .map(i => fetch(i.toInt)).filter(b => !blank(b))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (bodies.isEmpty) { bodies.unpersist(blocking = false); None }
      else Some(bodies)
    }

  /** The sequential walk, on the driver, from token `first`: `fetch` gives
    * a page's body and the next token. Each page names the next, so the
    * walk cannot parallelize; its memory is bounded all the same, as each
    * body spills as it is fetched. It stops at a blank page or a missing
    * next token. */
  def walk[T](spark: SparkSession, first: T)
             (fetch: T => (String, Option[T])): PageSpill = {
    val spill = new PageSpill(spark)
    var token: Option[T] = Some(first)
    while (token.nonEmpty) {
      val (body, next) = fetch(token.get)
      if (blank(body)) token = None
      else { spill.write(body); token = next }
    }
    spill
  }

  /** Parse spilled pages per the DOCUMENT type (reference: curl.rs
    * delegates body decode to the document layer, so a csv- or xml-speaking
    * API works too). json/jsonl stays fully distributed: wholetext gives one
    * row per page file and inference reads from the files, so the bodies
    * never re-assemble on the driver; entry_path unwraps envelopes. Other
    * document types decode through Documents.readString one page at a time
    * (the plan union stays distributed). No pages -> a schemaless empty
    * frame instead of json inference's "Unable to infer schema" crash. The
    * spill dir is deleted before returning in every branch. */
  def parseSpilled(spark: SparkSession, spill: PageSpill, docType: String = "json",
                   opts: DocOptions = DocOptions()): DataFrame =
    if (spill.pages == 0) { spill.delete(); spark.emptyDataFrame }
    else docType match {
      case "json" | "jsonl" | "" =>
        Documents.withEntryPath(spill.parseJson(), opts)
      case other =>
        val parsed = (0 until spill.pages).map(i =>
          Documents.readString(spark, other, spill.readPage(i), opts))
          .reduce(_.unionByName(_))
        spill.delete()
        parsed
    }
}

/** Total-count probes (reference: src/connector/counter/curl): one
  * driver-side request that learns the collection size, upgrading an
  * unknown-count offset paginator to the parallel page plan. `path`, when
  * set, overrides the connector path for the probe. */
sealed trait HttpCounter { def path: Option[String] }
/** Size read from the response body at a json pointer
  * (reference: counter/curl/body.rs — entry_path). */
final case class BodyCounter(entryPath: String = "/count",
                             path: Option[String] = None) extends HttpCounter
/** Size read from a response header, `X-Total-Count` by convention
  * (reference: counter/curl/header.rs — name/path). */
final case class HeaderCounter(name: String = "X-Total-Count",
                               path: Option[String] = None) extends HttpCounter

/** Config-grade curl connector (reference: curl.rs — endpoint + path,
  * headers, authenticator, offset/cursor paginator, all wired from the
  * config node by `Connector.fromConfig`). The URL template honours
  * `{{ paginator.limit }}` / `{{ paginator.skip }}` / `{{ paginator.next }}`
  * mustache slots in `path` (chewdata-style); without slots the values are
  * appended as query parameters. The HTTP call itself is the injectable
  * `transport` (a full transport: header counters read response headers;
  * `Http.full` lifts a body-only one) — zero egress here — while
  * pagination planning, parallelism and parsing are real:
  *  - offset + known count → the parallel page plan ([[Pages.parallel]])
  *  - offset + unknown count → the sequential walk ([[Pages.walk]]) on
  *    `skip`, until an empty page
  *  - cursor → the sequential walk on the next-token chain
  * and every body parses per the configured document type. */
final case class CurlConnector(endpoint: String, path: String = "",
                               headers: Map[String, String] = Map.empty,
                               paginator: HttpPaginator = OffsetPaginator(),
                               transport: Http.FullTransport = Http.full(Http.noTransport),
                               counter: Option[HttpCounter] = None,
                               auth: Option[() => (String, String)] = None,
                               isCached: Boolean = false,
                               docType: String = "json",
                               opts: DocOptions = DocOptions(),
                               writeTransport: Http.WriteTransport = Http.noWriteTransport,
                               writeBatchSize: Int = 1000)
    extends Connector {

  /** Write the frame to the endpoint (reference: curl.rs send): rows
    * serialize as JSON arrays of up to `writeBatchSize` records and POST
    * per partition — sends run concurrently on executors, nothing funnels
    * through the driver. Auth evaluates once on the driver (same policy
    * as load) and the headers broadcast with the closure. */
  override def save(df: org.apache.spark.sql.DataFrame, mode: SaveMode): Unit = {
    val wt = writeTransport
    val hs = headers ++ auth.map(_())
    val url = urlFor(Map.empty)
    val bs = writeBatchSize
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(bs).foreach { batch =>
        wt(url, hs, batch.mkString("[", ",", "]"))
        ()
      }
    }
  }

  /** Fill pagination slots ([[Http.pageUrl]]). Exposed for spec assertions. */
  def urlFor(subst: Map[String, String]): String = Http.pageUrl(endpoint + path, subst)

  override def load(spark: SparkSession): DataFrame = {
    // wrapped in the file cache when `is_cached` is on (reference: curl.rs:46)
    val ex = if (isCached) HttpCache.cached(transport) else transport
    // auth evaluates at LOAD time, not config-parse time (the reference
    // authenticates per request; key material may come from a refresh
    // flow only reachable when the job runs)
    val hs = headers ++ auth.map(_())
    // a configured counter turns an unknown total into a known one with a
    // single probe call, unlocking parallel pagination
    val effective = (paginator, counter) match {
      case (op @ OffsetPaginator(_, _, None), Some(c)) =>
        val url = c.path.map(endpoint + _).getOrElse(urlFor(Map.empty))
        val resp = ex(url, hs)
        val probed: Option[Long] = c match {
          case BodyCounter(_, _) if resp.body.trim.isEmpty => None
          case BodyCounter(entryPath, _) =>
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(resp.body).at(entryPath)
            if (node.isMissingNode || node.isNull) None else Some(node.asLong())
          case HeaderCounter(name, _) =>
            // a missing/garbage header degrades to the sequential walk,
            // matching the BodyCounter fallback
            resp.headers.collectFirst {
              case (k, v) if k.equalsIgnoreCase(name) => v.trim
            }.flatMap(v => scala.util.Try(v.toLong).toOption)
        }
        probed.map(n => op.copy(count = Some(n))).getOrElse(op)
      case (p, _) => p
    }
    effective match {
      case OffsetPaginator(limit, skip, Some(count)) =>
        val nPages = math.max(0L, (count - skip + limit - 1) / limit).toInt
        val template = endpoint + path
        Pages.parallel(spark, nPages)(i => ex(Http.pageUrl(template,
            Map("limit" -> limit.toString, "skip" -> (skip + i.toLong * limit).toString)),
          hs).body) match {
          case None => spark.emptyDataFrame
          case Some(bodies) if Set("json", "jsonl", "")(docType) =>
            Documents.withEntryPath(spark.read.json(bodies), opts)
          case Some(bodies) =>
            // non-json documents decode through the per-page document
            // layer; the bodies stream to a spill dir one page at a time
            // (toLocalIterator) instead of assembling on the driver
            val spill = new PageSpill(spark)
            bodies.toLocalIterator().forEachRemaining(b => spill.write(b))
            bodies.unpersist(blocking = false)
            Pages.parseSpilled(spark, spill, docType, opts)
        }
      case OffsetPaginator(limit, skip, None) =>
        Pages.parseSpilled(spark, Pages.walk(spark, skip.toLong) { s =>
          (ex(urlFor(Map("limit" -> limit.toString, "skip" -> s.toString)), hs).body,
            Some(s + limit))
        }, docType, opts)
      case CursorPaginator(limit, entryPath) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        Pages.parseSpilled(spark, Pages.walk(spark, Option.empty[String]) { cursor =>
          val body = ex(urlFor(Map("limit" -> limit.toString) ++ cursor.map("next" -> _)),
            hs).body
          val at = if (Pages.blank(body)) None else Some(mapper.readTree(body).at(entryPath))
          (body, at.filterNot(a => a.isMissingNode || a.isNull || a.asText().isEmpty)
            .map(a => Some(a.asText())))
        }, docType, opts)
    }
  }
}

object MongoConnector {
  /** Minimal driver-shaped client surface (reference: mongodb.rs wraps the
    * official Rust driver). Injectable so pagination planning, distributed
    * parse, batched insert and erase are real and spec-tested without a
    * server; a production adapter wraps mongo-java-driver (or the Spark
    * connector) behind the same four calls. Documents travel as extended
    * JSON strings — the same wire shape the reference's serde layer sees. */
  trait Client extends Serializable {
    def count(database: String, collection: String, filterJson: String): Long
    def find(database: String, collection: String, filterJson: String,
             skip: Long, limit: Int): Seq[String]
    def insert(database: String, collection: String, docsJson: Seq[String]): Unit
    def drop(database: String, collection: String): Unit
    /** Cursor-session walk (reference: paginator/mongodb/cursor.rs — the
      * driver cursor's getMore chain): fetch the page after `cursor`
      * (None = the first page), returning the docs plus the next token
      * (None = exhausted). The default emulates the chain over
      * skip/limit so existing adapters keep working unchanged; a
      * driver-backed client overrides with the real cursor session
      * (whose token is the live cursor id). */
    def findWithCursor(database: String, collection: String,
                       filterJson: String, cursor: Option[String],
                       limit: Int): (Seq[String], Option[String]) = {
      val skip = cursor.map(_.toLong).getOrElse(0L)
      val docs = find(database, collection, filterJson, skip, limit)
      (docs,
        if (docs.size < limit) None else Some((skip + docs.size).toString))
    }
  }
}

/** MongoDB connector (reference: mongodb.rs — endpoint/db/collection,
  * `filter` find query, offset OR cursor pagination, update/erase). With
  * a client the whole execution path runs, through the same [[Pages]] as
  * curl, a page's documents being one JSON array body: offset pagination
  * runs the parallel page plan off a count probe (a `find` per task);
  * cursor pagination (reference: paginator/mongodb/cursor.rs) runs the
  * sequential walk on the driver's next-token chain, so it holds one page
  * in driver memory, not the collection, and parses the spilled pages
  * distributed. Saves insert in per-partition batches. Without a client
  * (this container has no driver jar and no egress) the operations fail
  * fast with a clear message instead of a classpath error. */
final case class MongoConnector(uri: String, database: String, collection: String,
                                filter: String = "{}", batchSize: Int = 1000,
                                client: Option[MongoConnector.Client] = None,
                                pagination: String = "offset")
    extends Connector {
  private def unavailable = new UnsupportedOperationException(
    "MongoDB support requires a client (mongo driver jar) on the classpath " +
      s"(would read $database.$collection from $uri)")

  override def load(spark: SparkSession): DataFrame = {
    val c = client.getOrElse(throw unavailable)
    val (db, coll, f, bs) = (database, collection, filter, batchSize)
    if (pagination == "cursor")
      // the token is the driver's cursor; the first page is asked for without one
      Pages.parseSpilled(spark, Pages.walk(spark, Option.empty[String]) { cursor =>
        val (docs, next) = c.findWithCursor(db, coll, f, cursor, bs)
        (docs.mkString("[", ",", "]"), next.map(Some(_)))
      })
    else {
      val nPages = ((c.count(db, coll, f) + bs - 1) / bs).toInt
      Pages.parallel(spark, nPages)(p =>
          c.find(db, coll, f, p.toLong * bs, bs).mkString("[", ",", "]"))
        .fold(spark.emptyDataFrame)(spark.read.json(_))
    }
  }

  override def save(df: DataFrame, mode: SaveMode): Unit = client match {
    case None => throw unavailable
    case Some(c) =>
      if (mode == SaveMode.Overwrite) c.drop(database, collection)
      val (db, coll, bs) = (database, collection, batchSize)
      df.toJSON.foreachPartition { (it: Iterator[String]) =>
        it.grouped(bs).foreach(batch => c.insert(db, coll, batch.toSeq))
      }
  }

  override def erase(spark: SparkSession): Unit =
    client.getOrElse(throw unavailable).drop(database, collection)
}

object Connector {
  import com.fasterxml.jackson.databind.JsonNode

  /** Auth header factories (reference: src/connector/authenticator). */
  def basicAuth(user: String, pass: String): (String, String) =
    "Authorization" -> ("Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$user:$pass".getBytes("UTF-8")))
  def bearerAuth(token: String): (String, String) = "Authorization" -> s"Bearer $token"

  /** Parse a chewdata authenticator config node → auth header
    * (reference: src/connector/authenticator/{basic,bearer,jwt}.rs). */
  def authHeader(a: JsonNode): (String, String) = {
    val f = new Fields(a)
    import f._
    str("type") match {
      case "basic" => basicAuth(str("username", str("user")), str("password"))
      case "bearer" => bearerAuth(str("token"))
      // a pre-signed jwt travels as a bearer token
      case "jwt" if get("token").isDefined => bearerAuth(str("token"))
      case "jwt" =>
        val claims = get("claims", "payload").fold("{}")(_.toString)
        val signing = str("signing_type", str("signing", "secret"))
        // rsa_components keys travel as a JWK object (RFC 7517)
        val key = get("jwk").filter(_ => signing.startsWith("rsa"))
          .fold(str("key"))(_.toString)
        bearerAuth(Jwt.sign(claims, key, str("algorithm", str("algo", "HS256")), signing))
      case other => throw new IllegalArgumentException(
        s"unknown authenticator type: $other (basic/bearer/jwt)")
    }
  }

  /** Parse a paginator config node (reference: src/connector/paginator). */
  def paginator(p: JsonNode): HttpPaginator = {
    val f = new Fields(p)
    import f._
    if (str("type") == "cursor") CursorPaginator(int("limit", 100), str("entry_path", "/next"))
    else OffsetPaginator(int("limit", 100), int("skip", 0), get("count").map(_.asLong()))
  }

  /** Build from a chewdata-style connector config node. `transport` is the
    * injectable HTTP call for curl connectors (default: zero-egress; a
    * full transport, so a header counter sees the response headers);
    * `mongoClient` is the injectable mongodb driver adapter (default:
    * none — mongodb operations fail fast). The config node itself is
    * identical with or without the live bindings. */
  def fromConfig(node: com.fasterxml.jackson.databind.JsonNode,
                 docType: String, opts: DocOptions,
                 transport: Http.FullTransport = Http.full(Http.noTransport),
                 mongoClient: Option[MongoConnector.Client] = None): Connector = {
    val fields = new Fields(node)
    import fields._
    str("type", "local") match {
      case "local" | "l"          => LocalConnector(str("path"), docType, opts, strs("partition_by"))
      case "mem" | "in_memory"    => InMemoryConnector(str("data"), docType, opts)
      case "cli" | "io"           => CliConnector(docType)
      case "bucket" | "bucket_select" => BucketConnector(str("bucket"), str("key"), docType, opts)
      case "psql" | "jdbc"        =>
        JdbcConnector(str("url"), str("table"), str("user"), str("password"),
          get("partition_column").map(_.asText()),
          long("lower_bound", 0L), long("upper_bound", 0L), int("num_partitions", 8),
          str("driver"))
      case "curl" =>
        val auth = get("authenticator_type", "authenticator", "auth")
          .map(a => () => authHeader(a))
        val pag = get("paginator_type", "paginator").map(paginator)
          // legacy shorthand: "pages": N ≡ offset paginator of N known pages
          .getOrElse(get("pages").fold(OffsetPaginator())(n =>
            OffsetPaginator(limit = 1, skip = 0, count = Some(n.asLong()))))
        val counter = get("counter_type", "counter").map { c =>
          val cf = new Fields(c)
          val cpath = cf.get("path").map(_.asText())
          if (cf.str("type") == "header") HeaderCounter(cf.str("name", "X-Total-Count"), cpath)
          else BodyCounter(cf.str("entry_path", "/count"), cpath)
        }
        // reference: curl.rs:181 — `is_cached`, aliases `cache`/`cache_enabled`
        val isCached = Seq("is_cached", "cache", "cache_enabled").exists(bool(_, false))
        CurlConnector(str("endpoint"), str("path"), strMap("headers"), pag, transport,
          counter, auth, isCached = isCached, docType = docType, opts = opts)
      case "mongodb" | "mongo"    =>
        // reference: paginator/mongodb/{offset,cursor}.rs — the paginator
        // node picks the walk; limit maps onto the page/batch size
        val pag = get("paginator_type").map(new Fields(_))
        MongoConnector(str("endpoint"), str("database"), str("collection"),
          get("filter").fold("{}")(_.toString),
          pag.flatMap(_.get("limit")).fold(int("batch_size", 1000))(_.asInt()),
          client = mongoClient,
          pagination = pag.fold("offset")(_.str("type", "offset")))
      case other => throw new IllegalArgumentException(s"unknown connector type: $other")
    }
  }
}
